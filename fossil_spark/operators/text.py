"""Text-analysis operators for training-data pipelines.

All operators are pure Column expressions (JVM-side, whole-stage
codegen, no Python in the hot path) and deterministic: hashes are
md5-based so results are engine- and partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fossil_spark.catalog import Slot
from fossil_spark.operators.timeseries import round6_half_up

# Small, fixed stopword families for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
}


def tokens(text_col: Column) -> Column:
    """Whitespace tokenization (matches regexp_split_to_array '\\s+')."""
    return F.split(F.trim(text_col), r"\s+")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (word-piece boundaries at letter/digit transitions + ~4 chars per
    piece, a standard cheap proxy for byte-pair-encoded length)."""
    t = tokens(F.col(text_col))
    n_ws = F.size(t)
    # pieces: every run of letters or digits counts, long words count
    # ceil(len/4) pieces — all integer math, exact in any engine
    word_pieces = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.floor((F.length(w) + F.lit(3)) / F.lit(4)).cast("long"),
    )
    return df.select(
        "doc_id",
        n_ws.alias("n_tokens"),
        word_pieces.alias("n_subword_est"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def quality_expr(c: Column) -> Column:
    """Combined quality score in [0,1] as a pure Column expression —
    usable on batch AND streaming frames without a join."""
    t = tokens(c)
    n = F.size(t)
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_ratio = F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast("double") / n
    mean_word_len = (
        F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double") / n
    )
    punct_ratio = (
        F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0)).cast("double")
        / F.length(c)
    )
    return (
        F.lit(0.4) * stop_ratio
        + F.lit(0.4) * (F.lit(1.0) - F.abs(mean_word_len - F.lit(5.0)) / F.lit(5.0))
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
    )


def lang_pred_expr(c: Column) -> Column:
    """Predicted language as a pure Column expression (argmax of
    stopword-family hit ratios, fixed tie order en,de,fr,es,other)."""
    t = tokens(c)
    n = F.size(t)
    ratios = {}
    for lang, words in STOPWORDS.items():
        sw = F.array([F.lit(w) for w in words])
        ratios[lang] = (
            F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast("double") / n
        )
    best = F.greatest(*ratios.values())
    return (
        F.when(best == F.lit(0.0), F.lit("other"))
        .when(ratios["en"] == best, F.lit("en"))
        .when(ratios["de"] == best, F.lit("de"))
        .when(ratios["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, punctuation density, stopword ratio,
    mean word length, and a combined score in [0,1]."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    n_chars = F.length(F.col(text_col))
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[^\w\s]"), 0))
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    sum_word_len = F.aggregate(t, F.lit(0), lambda acc, w: acc + F.length(w))
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = n_stop.cast("double") / n
    mean_word_len = sum_word_len.cast("double") / n
    score = quality_expr(F.col(text_col))
    return df.select(
        "doc_id",
        n.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_word_len.alias("mean_word_len"),
        score.alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: stopword-family hit ratio per language,
    argmax with a fixed preference order on ties (en,de,fr,es,other)."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    ratios = {}
    for lang, words in STOPWORDS.items():
        sw = F.array([F.lit(w) for w in words])
        ratios[lang] = (
            F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast("double") / n
        )
    pred = lang_pred_expr(F.col(text_col))
    return df.select(
        "doc_id",
        *[r.alias(f"ratio_{lang}") for lang, r in ratios.items()],
        pred.alias("pred_lang"),
    )


PII_PATTERNS = [
    # order matters: specific shapes first — the phone pattern's char
    # class includes dots, so IPs/URLs must be redacted before it runs
    ("email", r"[\w.+-]+@[\w-]+\.[\w.]+"),
    ("url", r"https?://\S+"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d"),
]


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact common PII shapes (emails, phones, IPs, URLs) with typed
    placeholders and count the redactions per kind — the standard
    pre-training scrub pass. Pure regexp_replace chain: stays in
    codegen, one pass over the text per pattern."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), 0)).alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return df.select("doc_id", *counts, scrubbed.alias("scrubbed"))


def _top_run_count(sh: Column) -> Column:
    """Occurrences of the modal element: sort the array (equal
    elements become adjacent) and take the longest run in ONE linear
    aggregate pass — O(m log m) per row. The naive per-distinct
    filter scan is O(d*m) string comparisons, which measured 57 s at
    sf0.1 for the corpus-wide pass (vs sub-second for this shape)."""
    s = F.array_sort(sh)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        new_run = (
            F.when(x == acc["prev"], acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    return F.aggregate(s, init, step, lambda acc: acc["best"])


def _top_run_mass(sh: Column, n: int) -> Column:
    """Max over distinct grams of count * word-chars(gram), floored
    at 0 — same sorted-run linear scan as _top_run_count, closing a
    run's mass whenever the gram changes."""
    s = F.array_sort(sh)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        closed = acc["run"] * (
            F.length(acc["prev"]).cast("long") - F.lit(n - 1)
        )
        same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(same, acc["best"])
            .otherwise(F.greatest(acc["best"], closed))
            .alias("best"),
        )

    def fin(acc):
        last = acc["run"] * (F.length(acc["prev"]).cast("long") - F.lit(n - 1))
        return F.greatest(acc["best"], last, F.lit(0).cast("long"))

    return F.aggregate(s, init, step, fin)


def repetition_score(df: DataFrame, text_col: str = "text", n: int = 2) -> DataFrame:
    """Repetition quality filter: the share of the document occupied
    by its single most-frequent word n-gram. Boilerplate and
    degenerate generations score high. Computed per row with
    higher-order functions (no explode, no shuffle); the modal count
    comes from the sorted-run scan (see _top_run_count)."""
    sh = shingles(F.col(text_col), n)
    total = F.size(sh)
    max_count = _top_run_count(sh)
    return df.select(
        "doc_id",
        total.alias("n_ngrams"),
        max_count.alias("top_ngram_count"),
        (max_count.cast("double") / total).alias("repetition_ratio"),
    )


def unigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model negative log-likelihood per document —
    the cheap, model-free stand-in for the perplexity filter of
    CCNet-style pipelines: fit p(tok) = tf/N on the corpus itself,
    score each document by sum(-ln p) and its per-token average.
    Outlier documents (rare-token soup, degenerate repetition) sit at
    the tails and get filtered.

    Shape: explode tokens once; ONE groupBy(token) builds the term-
    frequency table (map-side partial counts); the corpus total is a
    1-row aggregate broadcast by crossJoin; tokens re-join the tf
    table on the token key (AQE broadcasts it when the vocab is
    small, sort-merge with skew-split otherwise — natural-language
    vocab is Zipfian, exactly the case AQE's skew handling exists
    for); ONE groupBy(doc) accumulates. The per-doc sum uses
    decimal(30,8) fixed point so accumulation order can't change the
    result across partitionings or engines."""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    total = toks.agg(F.count("*").cast("double").alias("__n"))
    nll = -F.log(F.col("tf").cast("double") / F.col("__n"))
    per_doc = (
        toks.join(tf, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum(nll.cast("decimal(30,8)")), 4)
            .cast("double")
            .alias("nll"),
        )
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "nll",
        round6_half_up(
            F.col("nll") / F.col("n_tokens")
        ).alias("avg_nll"),
    )


def temperature_weights(
    df: DataFrame,
    group_col: str = "source",
    temperature: float = 2.0,
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture reweighting (the multilingual /
    domain-balancing rule of mC4 and XLM-R): natural token share
    p_g = tokens(g) / total is flattened to w_g proportional to
    p_g^(1/T), normalized. T = 1 keeps natural shares; T -> inf is
    uniform. `boost` = w_g / p_g is the up/down-sampling factor to
    feed stratified_sample. All tallies are exact integers; both
    normalizers are GLOBAL WINDOWS over the per-group table (one row
    per group — bounded by definition), so the token scan runs
    exactly once and nothing re-executes. Returns (group, n_tokens,
    share, weight, boost)."""
    tok_n = F.size(tokens(F.col(text_col)))
    per = df.groupBy(group_col).agg(F.sum(tok_n).cast("long").alias("n_tokens"))
    wall = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(wall).cast(
        "double"
    )
    staged = per.select(
        group_col, "n_tokens", share.alias("__share"),
        F.pow(share, 1.0 / temperature).alias("__pw"),
    )
    tw = (
        F.round(F.sum(F.col("__pw").cast("decimal(38,12)")).over(wall), 8)
        .cast("double")
    )
    return staged.select(
        group_col,
        "n_tokens",
        F.round("__share", 6).alias("share"),
        F.round(F.col("__pw") / tw, 6).alias("weight"),
        F.round((F.col("__pw") / tw) / F.col("__share"), 6).alias("boost"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the cheap redundancy
    signal Gopher/RefinedWeb filter on: highly repetitive or
    templated text compresses far below natural prose (~0.3-0.5),
    random-ish strings approach 1.0. Python by nature (zlib), so an
    Arrow-batched mapInPandas pass — a sanctioned boundary like the
    media decoders; deterministic for a fixed zlib level. Returns
    (id, n_bytes, n_compressed, ratio)."""
    import zlib

    import pandas as pd

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField(id_col, LongType()),
        StructField("n_bytes", LongType()),
        StructField("n_compressed", LongType()),
        StructField("ratio", DoubleType()),
    ])

    def process(batches):
        for pdf in batches:
            rows = []
            for rid, txt in zip(pdf[id_col], pdf[text_col]):
                raw = (txt or "").encode("utf-8")
                comp = zlib.compress(raw, level)
                rows.append(
                    (rid, len(raw), len(comp),
                     round(len(comp) / len(raw), 6) if raw else None)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return df.select(id_col, text_col).mapInPandas(process, schema)


def _bigram_rows(
    src: DataFrame, text_col: str, id_col: str | None
) -> DataFrame:
    """Explode documents into (prev, cur) bigram rows (positions
    i >= 2); docs with < 2 tokens produce none."""
    w = tokens(F.col(text_col))
    cols = [F.col(id_col)] if id_col else []
    return (
        src.select(*cols, w.alias("__w"))
        .filter(F.size("__w") >= 2)
        .select(
            *([id_col] if id_col else []),
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.size("__w")),
                    lambda i: F.struct(
                        F.element_at(F.col("__w"), i - 1).alias("prev"),
                        F.element_at(F.col("__w"), i).alias("cur"),
                    ),
                )
            ).alias("__g"),
        )
        .select(
            *([id_col] if id_col else []),
            F.col("__g.prev").alias("prev"),
            F.col("__g.cur").alias("cur"),
        )
    )


def kn_bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    fit_df: DataFrame | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram NLL per document (Kneser &
    Ney 1995; Chen & Goodman 1999 interpolated form) — the smoothing
    KenLM actually ships, one step past bigram_nll's naive unigram
    mix: the backoff distribution is the CONTINUATION probability
    (how many distinct histories precede w), so a token that is
    frequent but only ever follows one history ("Francisco") stops
    inflating novel contexts.

        p(w|v) = (max(c(vw) - D, 0) + D * N1+(v.) * pcont(w)) / c(v.)
        pcont(w) = N1+(.w) / B     (B = distinct bigram types)

    with c(v.) = bigram-based history count; unseen history -> pcont
    alone; p floored at 1e-12 for OOV. Counts fit on `fit_df` or, by
    default, the scored corpus itself.

    Shape: same as bigram_nll — ONE bigram groupBy; every KN table
    (history count + distinct continuations, distinct histories,
    type total) is a groupBy over that bigram-type table, which is
    orders of magnitude smaller than the corpus; token-keyed joins
    are Zipfian (AQE skew-split), the type total is a 1-row
    broadcast. Per-position p is a fixed op-order chain over exact
    integer counts (engine-reproducible); per-doc sums accumulate in
    decimal(30,8). Docs with < 2 tokens are omitted.
    Returns (id, n_bigrams, nll, avg_nll)."""
    fit = fit_df if fit_df is not None else df
    grams = _bigram_rows(df, text_col, id_col)
    big = (
        _bigram_rows(fit, text_col, None)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    hist = big.groupBy("prev").agg(
        F.sum("c2").alias("__hc"), F.count(F.lit(1)).alias("__n1f")
    )
    cont = big.groupBy("cur").agg(F.count(F.lit(1)).alias("__n1b"))
    types = big.agg(F.count(F.lit(1)).cast("double").alias("__b"))
    pcont = F.coalesce(F.col("__n1b"), F.lit(0)).cast("double") / F.col("__b")
    d = F.lit(discount)
    p_raw = F.when(
        F.coalesce(F.col("__hc"), F.lit(0)) > 0,
        (
            F.greatest(
                F.coalesce(F.col("c2"), F.lit(0)).cast("double") - d, F.lit(0.0)
            )
            + d * F.col("__n1f").cast("double") * pcont
        )
        / F.col("__hc").cast("double"),
    ).otherwise(pcont)
    p = F.greatest(p_raw, F.lit(1e-12))
    scored = (
        grams.join(big, ["prev", "cur"], "left")
        .join(hist, "prev", "left")
        .join(cont, "cur", "left")
        .crossJoin(F.broadcast(types))
    )
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum((-F.log(p)).cast("decimal(30,8)")), 4)
        .cast("double")
        .alias("nll"),
    )
    # explicit half-up at 1e-6 (floor is exact on IEEE doubles, so the
    # rounding cannot diverge across engines the way round(x, 6) does
    # on a tie — caught by the dual-SF gate at sf0.1)
    return out.select(
        id_col, "n_bigrams", "nll",
        round6_half_up(
            F.col("nll") / F.col("n_bigrams")
        ).alias("avg_nll"),
    )


def bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    fit_df: DataFrame | None = None,
) -> DataFrame:
    """Interpolated bigram language-model NLL per document — one step
    closer to the KenLM perplexity filter than unigram_nll: score
    each token position i >= 2 with p = lam * C(w_{i-1} w_i) /
    C(w_{i-1}) + (1 - lam) * C(w_i)/T. Counts fit on `fit_df` (a
    reference corpus) or, by default, on the scored corpus itself.
    NOTE the in-sample caveat: with self-fit MLE counts a SINGLETON
    bigram over a singleton history has p_bi = 1/1 — novel text is
    not penalized by the bigram term (only via the unigram mix); the
    discriminative signal is ambiguous histories (repetition scores
    lowest, genuinely mixed continuations highest). For held-out
    perplexity filtering pass a reference corpus as `fit_df`.

    Shape: one posexplode into bigram rows; ONE groupBy(prev, cur)
    for bigram counts, ONE groupBy(token) unigram table joined twice
    (as history C(prev) and as current C(cur)); corpus total = 1-row
    broadcast. Token-keyed joins are Zipfian — AQE skew-split
    territory, same as unigram_nll. Per-doc sums accumulate in
    decimal(30,8). Docs with < 2 tokens are omitted (no bigram
    exists). Returns (id, n_bigrams, nll, avg_nll)."""
    fit = fit_df if fit_df is not None else df

    def bigrams(src: DataFrame, with_id: bool) -> DataFrame:
        return _bigram_rows(src, text_col, id_col if with_id else None)

    grams = bigrams(df, with_id=True)
    toks = fit.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("__t"))
    big = bigrams(fit, with_id=False).groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("c2")
    )
    # held-out scoring: grams absent from the fit corpus keep their
    # row (left joins); p_bi contributes 0 for an unseen history and
    # the whole p is floored at 1e-12 so ln() stays finite
    p_bi = F.when(
        F.coalesce(F.col("__cprev"), F.lit(0)) > 0,
        F.coalesce(F.col("c2"), F.lit(0)).cast("double")
        / F.col("__cprev").cast("double"),
    ).otherwise(F.lit(0.0))
    p = F.greatest(
        F.lit(lam) * p_bi
        + F.lit(1.0 - lam)
        * (F.coalesce(F.col("__ccur"), F.lit(0)).cast("double") / F.col("__t")),
        F.lit(1e-12),
    )
    scored = (
        grams.join(big, ["prev", "cur"], "left")
        .join(
            uni.select(F.col("tok").alias("prev"), F.col("c1").alias("__cprev")),
            "prev", "left",
        )
        .join(
            uni.select(F.col("tok").alias("cur"), F.col("c1").alias("__ccur")),
            "cur", "left",
        )
        .crossJoin(F.broadcast(total))
    )
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum((-F.log(p)).cast("decimal(30,8)")), 4)
        .cast("double")
        .alias("nll"),
    )
    return out.select(
        id_col, "n_bigrams", "nll",
        # explicit half-up at 1e-6 (the kn_bigram convention): floor
        # is exact on IEEE doubles, so a ratio landing on a rounding
        # tie cannot diverge across engines (caught live at sf0.001)
        round6_half_up(
            F.col("nll") / F.col("n_bigrams")
        ).alias("avg_nll"),
    )


def stupid_backoff_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
    min_count: int = 2,
) -> DataFrame:
    """Stupid-backoff trigram score per document (Brants, Popat, Xu,
    Och & Dean 2007, "Large Language Models in Machine Translation" —
    THE web-scale LM smoothing: no discounting, no normalization,
    just count ratios with a fixed 0.4 backoff factor, chosen
    precisely because it needs nothing but distributed count tables):

        S(w3|w1 w2) = C(w1w2w3)/C(w1w2)        if C(w1w2w3) "seen"
                      0.4 * C(w2w3)/C(w2)      elif C(w2w3) "seen"
                      0.4 * 0.4 * C(w3)/T      otherwise

    Counts are self-fit with a seen-threshold `min_count` (default 2):
    a SINGLETON trigram is by definition unique to the position being
    scored, so in-sample it carries no evidence of conventionality —
    thresholding makes the score a NOVELTY detector (docs full of
    corpus-unique trigrams back off to the unigram floor and score
    low), the same reason [[text_ngram_novelty]] counts first
    occurrences. The score family sits between [[text_bigram_nll]]
    (interpolated, normalized) and a full Katz/KN model — and is the
    one that actually shipped at 100B-token scale in the paper.

    Spark shape: one posexplode into trigram rows; THREE count
    tables (trigram / bigram / unigram) built with ONE groupBy each;
    score assembly is five gram-keyed left joins + a 1-row broadcast
    total — all equi-joins on Zipf-skewed keys (AQE skew-join
    territory, the unigram_nll precedent). NLL sums accumulate in
    decimal(30,8); avg uses the explicit half-up @6. Docs with < 3
    tokens are omitted. Returns (id, n_trigrams, nll, avg_nll)."""
    w = tokens(F.col(text_col))
    tri_structs = F.transform(
        F.sequence(F.lit(3), F.size("__w")),
        lambda i: F.struct(
            F.element_at(F.col("__w"), i - 2).alias("w1"),
            F.element_at(F.col("__w"), i - 1).alias("w2"),
            F.element_at(F.col("__w"), i).alias("w3"),
        ),
    )
    tri = (
        df.select(F.col(id_col), w.alias("__w"))
        .filter(F.size("__w") >= 3)
        .select(id_col, F.explode(tri_structs).alias("__g"))
        .select(
            id_col,
            F.col("__g.w1").alias("w1"),
            F.col("__g.w2").alias("w2"),
            F.col("__g.w3").alias("w3"),
        )
    )
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    # corpus total rolls up from the unigram table — no second
    # token-explode scan
    total = uni.agg(F.sum("c1").cast("double").alias("__t"))
    big = _bigram_rows(df, text_col, None).groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("c2")
    )
    tric = (
        tri.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
        .filter(F.col("c3") >= min_count)
    )
    bo = F.lit(float(backoff))
    scored = (
        tri.join(tric, ["w1", "w2", "w3"], "left")
        .join(
            big.select(
                F.col("prev").alias("w1"), F.col("cur").alias("w2"),
                F.col("c2").alias("__cpre"),
            ),
            ["w1", "w2"], "left",
        )
        .join(
            big.filter(F.col("c2") >= min_count).select(
                F.col("prev").alias("w2"), F.col("cur").alias("w3"),
                F.col("c2").alias("__cbi"),
            ),
            ["w2", "w3"], "left",
        )
        .join(
            uni.select(F.col("tok").alias("w2"), F.col("c1").alias("__c2u")),
            "w2", "left",
        )
        .join(
            uni.select(F.col("tok").alias("w3"), F.col("c1").alias("__c3u")),
            "w3", "left",
        )
        .crossJoin(F.broadcast(total))
    )
    # a seen trigram implies C(w1w2) >= C3 >= min_count > 0, and
    # self-fit unigrams are always present, so every branch divides
    # by a positive count
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("__cpre").cast("double"),
        )
        .when(
            F.col("__cbi").isNotNull(),
            bo * (F.col("__cbi").cast("double")
                  / F.col("__c2u").cast("double")),
        )
        .otherwise(
            bo * bo * (F.col("__c3u").cast("double") / F.col("__t"))
        )
    )
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.round(F.sum((-F.log(s)).cast("decimal(30,8)")), 4)
        .cast("double")
        .alias("nll"),
    )
    return out.select(
        id_col, "n_trigrams", "nll",
        round6_half_up(
            F.col("nll") / F.col("n_trigrams")
        ).alias("avg_nll"),
    )


def group_topk_sample(
    df: DataFrame,
    k: int,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "gtopk",
) -> DataFrame:
    """Deterministic fixed-size uniform sample PER GROUP: within each
    group, the k rows whose md5(salt:id) sorts lowest — the
    per-stratum companion to hash_topk_sample (global) and
    stratified_sample (per-stratum FRACTION). Guarantees exactly
    min(k, |group|) rows per group, which fraction sampling cannot.

    Spark executes the rank filter as WindowGroupLimit: each task
    keeps only its local per-group top-k BEFORE the shuffle, so a
    whale group reduces map-side instead of funneling through one
    partition. Returns (group, id, sample_key, rn)."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    win = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.select(
            F.col(group_col), F.col(id_col), h.alias("sample_key"),
            F.row_number().over(win).alias("rn"),
        )
        .filter(F.col("rn") <= k)
    )


def tfidf_keywords(
    df: DataFrame,
    top_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Top-k TF-IDF keywords per document: tf * ln(N/df) with the
    corpus-fit document frequencies — the classic per-document topic
    signature (cheap doc labeling / routing before any model).

    Shape: one explode + groupBy(doc, term) for tf (map-side partial
    counts); document frequency is a count window over the SAME
    (doc,term) rows partitioned by term — the rows are distinct by
    construction, so the window count IS the df, with no second scan
    and no self-join (a groupBy+join formulation re-executed the tf
    subtree: 3 scans vs 2); N is a 1-row broadcast; the top-k window
    partitions by doc. Determinism: integer tf/df, ln of exact
    rationals, (score, term) tie-break."""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.agg(F.count("*").cast("double").alias("__n"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), round_to
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def domain_mixture(
    df: DataFrame,
    targets: dict[str, float],
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Training-mixture balancing: per-source document/token tallies,
    the source's realized token share, and the downsample-only weight
    (min(1, target/actual)) that moves the corpus toward the target
    mixture — feed the weights into stratified_sample to execute the
    rebalance deterministically. Sources without a stated target keep
    weight 1.

    ONE groupBy on the source (map-side partial counts, one shuffle
    of a handful of rows) + a 1-row broadcast total; all-integer
    tallies, so shares and weights are engine-exact."""
    per_src = df.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col))).cast("long")).alias("n_tokens"),
    )
    total = per_src.agg(F.sum("n_tokens").cast("double").alias("__total"))
    target = F.lit(None).cast("double")
    for src, t in sorted(targets.items()):
        target = F.when(F.col(source_col) == src, F.lit(t)).otherwise(target)
    share = F.col("n_tokens") / F.col("__total")
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            share.alias("token_share"),
            F.coalesce(
                F.least(F.lit(1.0), target / share), F.lit(1.0)
            ).alias("sample_weight"),
        )
    )


def gopher_parts(text_col: Column) -> dict[str, Column]:
    """The Gopher rule expressions as pure Columns (shared by
    gopher_quality and the fused pipeline quality report — ONE source
    of truth so the two can't drift apart)."""
    w = tokens(text_col)
    n_words = F.size(w)
    word_chars = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )
    mean_word_len = word_chars.cast("double") / n_words
    dup_word_frac = (
        F.lit(1.0) - F.size(F.array_distinct(w)).cast("double") / n_words
    )

    def top_chars(n: int) -> Column:
        # char mass of one occurrence = len(space-joined gram) - (n-1);
        # sorted-run linear scan, floored at 0 (see _top_run_mass)
        return _top_run_mass(shingles(text_col, n), n)

    top2 = top_chars(2).cast("double") / word_chars
    top3 = top_chars(3).cast("double") / word_chars
    passed = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (dup_word_frac <= 0.5)
        & (top2 <= 0.20)
        & (top3 <= 0.18)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "dup_word_frac": dup_word_frac,
        "top2_char_frac": top2,
        "top3_char_frac": top3,
        "gopher_pass": passed,
    }


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality rules (Rae et al. 2021, §A1.1):
    word count, mean word length, duplicate-word fraction, and the
    fraction of document characters covered by the most repetitive
    word n-gram (n = 2, 3), plus the combined pass/fail verdict a
    pre-training filter would apply.

    All integer arithmetic until the final divisions, so the scores
    are bit-identical across engines. "Character coverage" of an
    n-gram is count * word-chars(gram) floored at 0, maximized over
    distinct grams — a deterministic tie-break (the paper's "most
    frequent n-gram" is ambiguous under ties). Per-row higher-order
    functions only: no explode, no shuffle; the modal-gram scan is
    sort + linear run-scan (O(m log m), not the O(d*m) all-pairs
    filter that measured 57 s at sf0.1)."""
    parts = gopher_parts(F.col(text_col))
    return df.select(
        "doc_id",
        *[parts[k].alias(k) for k in (
            "n_words", "mean_word_len", "dup_word_frac",
            "top2_char_frac", "top3_char_frac", "gopher_pass",
        )],
    )


def hash_topk_sample(
    df: DataFrame, k: int, id_col: str = "doc_id", salt: str = "topk"
) -> DataFrame:
    """Deterministic fixed-size uniform sample: the k rows whose
    md5(salt:id) sorts lowest. The reproducible replacement for
    reservoir sampling — identical output for any partitioning, any
    engine, any run. Spark executes orderBy+limit as
    TakeOrderedAndProject: each partition keeps only its local top-k,
    and the driver merges k-sized heaps — no global sort, no full
    shuffle, O(k) driver memory at any scale."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    return (
        df.select(id_col, h.alias("sample_key"))
        .orderBy("sample_key")
        .limit(k)
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis & Spirakis 2006, exponential-race form): each row
    draws a reproducible uniform u from md5(salt:id) — 13 hex chars =
    52 mantissa-exact bits — and competes with key -ln(u)/w; the k
    smallest keys are a weight-proportional sample without
    replacement. No RNG state, so the sample is identical across
    runs, engines, and cluster sizes.

    Spark executes orderBy+limit as TakeOrderedAndProject: each
    partition keeps a local k-heap and the driver merges them — no
    global sort, no shuffle of the losers, O(k) driver memory at any
    scale. (Reference parity: fossil's `sample` decimates by time,
    plan/metadata.go:46; this is the corpus-sampling analogue a
    training pipeline needs.)"""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
                1, 13,
            ),
            16, 10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 52))
    key = -F.log(u) / F.col(weight_col).cast("double")
    # zero/negative weight = zero selection probability: excluded
    # (avoids a NaN key when the md5 uniform lands exactly on 1.0)
    df = df.filter(F.col(weight_col) > 0)
    return (
        df.select(
            id_col, weight_col, key.alias("__key"),
            F.round(key, 6).alias("sample_key"),
        )
        .orderBy("__key", id_col)
        .limit(k)
        .drop("__key")
    )


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "qc",
    bias: float = 0.0,
) -> DataFrame:
    """fastText-style linear quality classifier stand-in (the shape
    used by the GPT-3/CCNet curation pipelines): hashed-unigram
    bag-of-words features with fixed per-token weights, mean-pooled,
    through a logistic link. Weights here are md5-derived placeholders
    standing in for trained parameters — the executed plan (hash →
    embedding-table lookup → mean pool → sigmoid) is exactly the
    production shape.

    Token weights are INTEGERS in [-1e6, 1e6] summed exactly in a
    long accumulator (order-independent), with a single double
    division + exp at the end — deterministic across engines and
    partitionings. Pure Column expressions: zero shuffles, folds into
    the scan."""
    toks = tokens(F.col(text_col))
    w_int = F.transform(
        toks,
        lambda t: F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), t)), 1, 8), 16, 10
        ).cast("long") % 2000001 - 1000000,
    )
    n = F.size(toks)
    s = F.aggregate(w_int, F.lit(0).cast("long"), lambda a, x: a + x)
    z = s.cast("double") / (n.cast("double") * F.lit(1e6)) + F.lit(bias)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        s.alias("weight_sum"),
        F.round(score, 6).alias("quality_prob"),
        (score > 0.5).alias("keep"),
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (8, 1, 1),
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: md5(salt:id) mod total
    buckets. Stable across runs, engines, and cluster sizes — the
    property a reproducible training pipeline needs (no RNG state)."""
    total = sum(weights)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % total
    )
    split = (
        F.when(bucket < weights[0], F.lit("train"))
        .when(bucket < weights[0] + weights[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.select(id_col, bucket.alias("bucket"), split.alias("split"))


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "strat",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row when
    md5(salt:id) mod 10^6 falls under its stratum's fraction —
    class-rebalancing for training corpora with NO RNG state, so the
    sample is identical across runs, engines, and cluster sizes, and
    purely map-side (zero shuffles; the hash folds into the scan)."""
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 1_000_000
    )
    frac = F.lit(default_fraction)
    for value, f in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == value, F.lit(f)).otherwise(frac)
    return df.filter(h < frac * 1_000_000)


def class_balanced_sample(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    salt: str = "bal",
) -> DataFrame:
    """Data-driven class rebalancing: downsample every class to the
    MINORITY class's size with the deterministic md5 rule — the
    imbalanced-classification prep step ([[sample_stratified]] takes
    user-chosen fractions; this computes them FROM the data, so the
    recipe needs no per-dataset tuning).

    All-integer rates: keep a row when md5(salt:id) mod 1e6 <
    (target * 1e6) // class_n — identical selection across engines
    and cluster sizes. Shape: one |classes|-row count, its 1-row min
    crossJoined back (broadcast), the rule folded into one scan.
    Expected kept size per class is within 1/1e6 of the target; the
    realized count is reported. Returns (label, n, target, n_kept,
    realized_frac)."""
    counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n")
    )
    target = counts.agg(F.min("n").alias("target"))
    rates = counts.crossJoin(F.broadcast(target)).select(
        "label", "n", "target",
        # exact integer division (Spark `div` == DuckDB `//`), never
        # a double truncation
        F.expr("(target * 1000000) div n").alias("__ppm"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 1_000_000
    )
    d = df.select(F.col(label_col).alias("label"), h.alias("__h")).join(
        F.broadcast(rates), "label"
    )
    agg = d.groupBy("label").agg(
        F.max("n").alias("n"),
        F.max("target").alias("target"),
        F.sum(F.when(F.col("__h") < F.col("__ppm"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )
    return agg.select(
        "label", "n", "target", "n_kept",
        (
            F.floor(
                F.col("n_kept").cast("double") / F.col("n").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("realized_frac"),
    )


def group_split(
    df: DataFrame,
    group_col: str,
    weights: tuple[int, int, int] = (8, 1, 1),
    salt: str = "gsplit",
) -> DataFrame:
    """Leakage-safe train/val/test split: the GROUP (user, document,
    session) hashes to one split, so all of a group's rows land
    together — the property that keeps eval honest when rows within a
    group are correlated. Same deterministic md5 scheme as
    hash_split; map-side only."""
    total = sum(weights)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(group_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % total
    )
    split = (
        F.when(bucket < weights[0], F.lit("train"))
        .when(bucket < weights[0] + weights[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.select(*df.columns, split.alias("split"))


def quality_deciles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Curriculum binning: decile rank of each document's quality
    score (exact ntile semantics over a deterministic order). Exact
    deciles need a global ORDER, but not a single-partition WINDOW:
    this uses the distributed-ranking pattern — range-repartition on
    the sort key, per-partition row_number (partitioned window), plus
    a broadcast per-partition offset table (|partitions| rows, from
    one tiny count aggregate) — so every stage scales out. The decile
    is then the SQL-standard NTILE rule ((n mod k) first buckets get
    one extra row) computed from the global rank in closed form.
    quality_bins_approx remains the sketch-based alternative when an
    approximate cut is acceptable."""
    from pyspark.sql import Window

    scored = quality_score(df, text_col).select(id_col, "quality")
    part = scored.repartitionByRange(F.col("quality"), F.col(id_col))
    # narrow (id, quality, pid) table materialized ONCE (lazy local
    # checkpoint) — the offset branch and the rank branch both read
    # it, so the text scan + scoring never re-execute
    part = part.withColumn("__pid", F.spark_partition_id()).localCheckpoint(
        eager=False
    )
    # |partitions|-row offset table: rows strictly before each partition
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = (
        part.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__pn"))
        .select(
            "__pid",
            (F.sum("__pn").over(woff) - F.col("__pn")).alias("__off"),
            F.sum("__pn").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("__cnt"),
        )
    )
    wloc = Window.partitionBy("__pid").orderBy(F.col("quality"), F.col(id_col))
    ranked = (
        part.withColumn("__lrn", F.row_number().over(wloc))
        .join(F.broadcast(offs), "__pid")
        .withColumn("__rn", (F.col("__off") + F.col("__lrn")).cast("long"))
    )
    # NTILE(k): q = n div k, r = n mod k; the first r buckets hold
    # q+1 rows. bucket = ceil(rn/(q+1)) while rn is inside the big
    # buckets, else r + ceil((rn - r*(q+1))/q); rows beyond n < k
    # degenerate to one row per bucket (q = 0).
    k = F.lit(10)
    q = F.floor(F.col("__cnt") / k)
    r = F.col("__cnt") % k
    big = r * (q + 1)
    decile = (
        F.when(F.col("__cnt") < k, F.col("__rn"))
        .when(F.col("__rn") <= big, F.ceil(F.col("__rn") / (q + 1)))
        .otherwise(r + F.ceil((F.col("__rn") - big) / q))
    )
    return ranked.select(
        id_col, "quality", decile.cast("long").alias("decile")
    )


def quality_bins_approx(
    df: DataFrame,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    rel_err: float = 0.001,
) -> DataFrame:
    """The SCALE path for curriculum binning (quality_deciles is the
    exact baseline): approxQuantile computes n_bins-1 cutpoints in one
    pass (Greenwald-Khanna sketch, no global sort), the tiny cutpoint
    list returns to the driver (n_bins-1 floats — same sanctioned
    shape as ann_ivf's centroid pull), and bin assignment is a pure
    map-side when-chain. At 100 TB this replaces the exact variant's
    single-partition ntile sort with one sketch aggregation."""
    scored = quality_score(df, text_col).select(id_col, "quality")
    cuts = scored.approxQuantile(
        "quality", [i / n_bins for i in range(1, n_bins)], rel_err
    )
    bin_ = F.lit(1)
    for i, cut in enumerate(cuts, start=1):
        bin_ = F.when(F.col("quality") > cut, F.lit(i + 1)).otherwise(bin_)
    return scored.select(id_col, "quality", bin_.cast("long").alias("bin"))


def token_frequency(
    df: DataFrame, text_col: str = "text", k: int = 20
) -> DataFrame:
    """Global top-k token frequencies (vocabulary head). One explode +
    one count shuffle; ties break on the token for determinism."""
    t = F.explode(tokens(F.col(text_col))).alias("token")
    counts = df.select(t).groupBy("token").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), "token").limit(k)


def chunk_text(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Split documents into token chunks of `chunk_tokens` with
    `overlap` tokens of context carried between consecutive chunks —
    the context-window preparation step. Pure higher-order functions:
    the explode is the only fan-out, no Python. `keep_cols` carry
    per-document provenance columns through to every chunk (join-free,
    so the same plan works on streams)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    keep_cols = keep_cols or []
    stride = chunk_tokens - overlap
    w = tokens(F.col(text_col))
    n = F.size(w)
    n_chunks = F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int")
    idx = F.explode(F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1))
    out = df.select(
        F.col(id_col), w.alias("__w"), idx.alias("chunk_idx"), *keep_cols
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.array_join(
            F.slice(F.col("__w"), F.col("chunk_idx") * stride + 1, chunk_tokens), " "
        ).alias("chunk"),
        F.size(
            F.slice(F.col("__w"), F.col("chunk_idx") * stride + 1, chunk_tokens)
        ).alias("chunk_n_tokens"),
        *keep_cols,
    )


def pack_documents(
    df: DataFrame,
    max_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """Greedy sequence packing: group whole documents into packs whose
    token totals stay under `max_tokens` (training-batch assembly).

    Bin packing is inherently sequential, so the distributed shape is
    bucket-then-pack: documents hash into `n_buckets` independent
    buckets (deterministic md5 bucketing), and each bucket packs
    greedily (first-fit on a size-sorted list) in ONE Arrow batch.
    Pack ids are globally unique as (bucket, seq). Packing quality is
    within a few percent of global greedy for n_buckets << n_docs."""
    import pandas as pd

    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    src = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("pack:"), F.col(id_col).cast("string"))), 1, 8), 16, 10)
            .cast("long") % n_buckets
        ).alias("bucket"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", id_col], ascending=[False, True])
        packs: list[int] = []   # remaining capacity per open pack
        assign = []
        for n_tok in pdf["n_tokens"]:
            need = min(int(n_tok), max_tokens)
            for i, cap in enumerate(packs):
                if cap >= need:
                    packs[i] = cap - need
                    assign.append(i)
                    break
            else:
                packs.append(max_tokens - need)
                assign.append(len(packs) - 1)
        pdf = pdf.copy()
        pdf["pack_seq"] = assign
        return pdf

    schema = "doc_id long, n_tokens int, bucket long, pack_seq long"
    packed = src.groupBy("bucket").applyInPandas(lambda pdf: pack(pdf), schema)
    return packed.select(
        id_col,
        "n_tokens",
        F.concat_ws("-", F.col("bucket"), F.col("pack_seq")).alias("pack_id"),
    )


def shingles(text_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles; a document shorter than n words yields a
    single whole-text shingle."""
    w = tokens(text_col)
    k = F.size(w)
    return F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        ),
    ).otherwise(F.array(F.array_join(w, " ")))


def fingerprint(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Document fingerprint: minimum md5 over word n-gram shingles
    (the k=1 winnow of a rolling-hash fingerprint family) plus the
    distinct-shingle count."""
    sh = F.array_distinct(shingles(F.col(text_col), n))
    return df.select(
        "doc_id",
        F.array_min(F.transform(sh, F.md5)).alias("fingerprint"),
        F.size(sh).alias("n_shingles"),
    )


def contamination_check(
    train: DataFrame,
    bench: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination flagging: a training document is
    contaminated if it shares any word n-gram with a held-out
    benchmark document — the standard pre-training decontamination
    step (GPT-3 App. C used 13-grams; n is a parameter because test
    corpora are short).

    Distributed shape: both sides explode DISTINCT n-grams and
    equi-join on the md5 of the n-gram (a narrow fixed-width shuffle
    key instead of the full n-gram string), then one groupBy on the
    training id. Work is bounded by the number of *shared* n-grams,
    never |train| x |bench|; the benchmark side of a real run is tiny
    and its exploded n-grams broadcast.

    Returns one row per contaminated training doc:
    (train id, n_shared_ngrams, n_bench_docs)."""
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("__g"),
        ).select(out_id, F.md5(F.col("__g")).alias("__gh"))

    bench_grams = grams(bench, "__bench_id")
    if bench.isStreaming is False:
        from pyspark.sql.functions import broadcast

        bench_grams = broadcast(bench_grams)
    return (
        grams(train, id_col)
        .join(bench_grams, "__gh")
        .groupBy(id_col)
        .agg(
            F.countDistinct("__gh").alias("n_shared_ngrams"),
            F.countDistinct("__bench_id").alias("n_bench_docs"),
        )
    )


def boilerplate_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unit: str = "block",
    block_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style boilerplate removal: drop text units (lines, or
    fixed non-overlapping token blocks for unstructured text) that
    repeat across >= min_docs distinct documents — the standard
    dedup-at-line-granularity step that strips headers, footers and
    navigation chrome before training.

    Shape: posexplode units, ONE groupBy on md5(unit) for corpus-wide
    distinct-doc counts (narrow fixed-width shuffle key), join back,
    ONE groupBy on the doc id to rebuild the cleaned text in original
    order (array_sort over (pos, unit) structs — no nondeterministic
    collect order). Two scans of the source (units + frequency side),
    both shuffles keyed and partial-aggregated.

    Returns (id, n_units, n_removed, cleaned_text) for every doc."""
    if unit == "line":
        units_arr = F.split(F.col(text_col), r"\n")
    else:
        w = tokens(F.col(text_col))
        n_blocks = F.greatest(
            F.ceil(F.size(w) / F.lit(block_tokens)).cast("int"), F.lit(1)
        )
        units_arr = F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.array_join(
                F.slice(w, i * block_tokens + 1, block_tokens), " "
            ),
        )
    units = df.select(
        F.col(id_col), F.posexplode(units_arr).alias("pos", "unit")
    ).withColumn("__uh", F.md5(F.col("unit")))
    freq = units.groupBy("__uh").agg(
        F.countDistinct(id_col).alias("__nd")
    )
    joined = units.join(freq, "__uh")
    keep = F.col("__nd") < F.lit(min_docs)
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_units"),
        F.sum((~keep).cast("long")).alias("n_removed"),
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


def bm25(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """BM25 relevance of every document for a fixed keyword query —
    the classic sparse-retrieval scorer (Robertson/Sparck Jones;
    idf form ln(1 + (N - df + 0.5)/(df + 0.5)) as in Lucene).

    Shape: one pass computes per-doc term frequencies as pure Column
    expressions; the corpus stats (N, total token count for avgdl,
    per-term doc frequencies) are ONE tiny aggregate row broadcast
    back via a nested-loop cross join — no per-term shuffle, no
    Python. Token-count sums are integer (exact, order-independent),
    so scores are bit-reproducible across partitionings.

    Returns (id, dl, score) for docs matching >= 1 term."""
    w = tokens(F.col(text_col))
    tf_cols = [
        F.size(F.filter(w, lambda x: x == F.lit(t))).alias(f"__tf{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = df.select(F.col(id_col), F.size(w).alias("dl"), *tf_cols)
    stats = per_doc.agg(
        F.count("*").alias("__N"),
        F.sum("dl").alias("__sumdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(query_terms))
        ],
    )
    from pyspark.sql.functions import broadcast

    joined = per_doc.crossJoin(broadcast(stats))
    avgdl = F.col("__sumdl").cast("double") / F.col("__N")
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"__tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__N") - F.col(f"__df{i}") + F.lit(0.5))
            / (F.col(f"__df{i}") + F.lit(0.5))
        )
        score = score + idf * tf * F.lit(k1 + 1.0) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
        )
    return (
        joined.filter(
            sum((F.col(f"__tf{i}") > 0).cast("int") for i in range(len(query_terms)))
            > 0
        )
        .select(id_col, "dl", F.round(score, round_to).alias("score"))
    )


def lexical_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Lexical-diversity quality signals: type-token ratio (distinct
    tokens / tokens) and hapax fraction (tokens occurring exactly
    once / distinct tokens) — cheap degenerate-text detectors that
    complement repetition_score (low TTR = template/spam; TTR ~ 1
    with high hapax = random-token soup). Pure per-row higher-order
    functions over the token array — zero shuffles, folds into the
    scan. Exact integer counts, one double division each."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_types = F.size(F.array_distinct(toks))
    # hapax count via the sorted-run linear scan (_top_run_count's
    # shape): runs of length exactly 1 in the sorted token array.
    # The naive per-type filter is the O(types x tokens) anti-pattern
    # that measured 57 s at sf0.1 in the gopher pass.
    s = F.array_sort(toks)
    init = F.struct(
        F.lit(" ").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("hapax"),
    )

    def _step(acc, x):
        same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + F.lit(1).cast("long"))
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            (
                acc["hapax"]
                + F.when(~same & (acc["run"] == 1), F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("hapax"),
        )

    hapax = F.aggregate(
        s, init, _step,
        lambda acc: acc["hapax"]
        + F.when(acc["run"] == 1, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return df.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        n_types.cast("long").alias("n_types"),
        hapax.cast("long").alias("n_hapax"),
        F.round(n_types.cast("double") / n.cast("double"), 6).alias("ttr"),
        F.round(hapax.cast("double") / n_types.cast("double"), 6).alias("hapax_frac"),
    )


def code_detector(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Code-vs-prose routing signal (the corpus-mix router step:
    code goes to a different tokenizer/sampling weight than prose):
    symbol density ({};()=<>[]), digit/underscore identifier rate,
    code-keyword hits (def/class/return/import/if/for/void/func...),
    and stopword absence, combined into a score in [0,1] with a
    boolean verdict. Pure Column expressions, zero shuffles; exact
    integer counts, deterministic divisions."""
    c = F.col(text_col)
    toks = tokens(c)
    n_tok = F.size(toks)
    n_chars = F.greatest(F.length(c), F.lit(1))
    n_sym = F.size(F.regexp_extract_all(c, F.lit(r"[{}();=<>\[\]]"), 0))
    kw = F.array(*[F.lit(k) for k in (
        "def", "class", "return", "import", "if", "for", "while", "void",
        "func", "var", "let", "const", "public", "static", "int", "=",
        "==", "{", "}", "());",
    )])
    n_kw = F.size(F.filter(toks, lambda t: F.array_contains(kw, t)))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_ident = F.size(
        F.filter(toks, lambda t: t.rlike(r"^[A-Za-z_][A-Za-z0-9_]*[_0-9][A-Za-z0-9_]*$"))
    )
    sym_density = n_sym.cast("double") / n_chars.cast("double")
    kw_rate = n_kw.cast("double") / n_tok.cast("double")
    stop_rate = n_stop.cast("double") / n_tok.cast("double")
    ident_rate = n_ident.cast("double") / n_tok.cast("double")
    score = F.least(
        F.lit(1.0),
        F.lit(4.0) * sym_density + F.lit(2.0) * kw_rate
        + F.lit(1.5) * ident_rate
        + F.lit(0.5) * F.greatest(F.lit(0.0), F.lit(0.05) - stop_rate) * 10.0,
    )
    return df.select(
        id_col,
        F.round(sym_density, 6).alias("symbol_density"),
        F.round(kw_rate, 6).alias("keyword_rate"),
        F.round(ident_rate, 6).alias("identifier_rate"),
        F.round(stop_rate, 6).alias("stopword_rate"),
        F.round(score, 6).alias("code_score"),
        (score > 0.5).alias("is_code"),
    )


# ln(2) as the SAME double literal on both the Spark and oracle side
# (dividing by each engine's own ln(2) would risk a 1-ulp divergence)
_LN2 = 0.6931471805599453


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    cheapest garbage detector in a text pipeline: natural prose sits
    ~4.0-4.5 bits, base64/hex blobs and minified code run higher,
    repeated-template padding and single-char runs collapse toward 0
    (complements [[text_compression]], which measures the same signal
    via zlib but needs Python; this stays fully JVM-side).

    Shape: per-char explode -> (doc, char) groupBy — map-side partial
    aggregation means the SHUFFLE is bounded by docs x alphabet
    (~100 cells/doc), not corpus characters; then one doc-partitioned
    window + final groupBy ride the same exchange. Deterministic: the
    ≤alphabet-size entropy terms -(p·ln p)/ln2 round to decimal(30,8)
    before summing (partition-order independent, 1-ulp-proof), and
    ln(2) is a shared literal, not each engine's own ln() call.
    Empty documents have no characters and are omitted. Unicode note:
    Spark's split("") separates UTF-16 code units, so non-BMP
    characters (emoji, rare CJK) count as two symbols where a
    code-point splitter counts one — a fixed, documented convention
    (the entropy ordering it produces is unaffected). Returns
    (id, n_chars, n_distinct, entropy, entropy_norm) with entropy_norm
    = entropy / log2(n_distinct) in [0, 1] (0 for single-char docs)."""
    chars = df.select(
        id_col, F.explode(F.split(F.col(text_col), "")).alias("__ch")
    ).filter(F.col("__ch") != "")
    counts = chars.groupBy(id_col, "__ch").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.partitionBy(id_col)
    t = counts.select(
        id_col, "__c",
        F.sum("__c").over(w).alias("__n"),
        F.count(F.lit(1)).over(w).alias("__k"),
    )
    p = F.col("__c").cast("double") / F.col("__n").cast("double")
    term = (-p * F.log(p)) / F.lit(_LN2)
    s = t.groupBy(id_col).agg(
        F.min("__n").alias("n_chars"),
        F.min("__k").alias("n_distinct"),
        F.round(F.sum(term.cast("decimal(30,8)")), round_to)
        .cast("double").alias("entropy"),
    )
    norm = F.when(
        F.col("n_distinct") > 1,
        F.round(
            F.col("entropy")
            / (F.log(F.col("n_distinct").cast("double")) / F.lit(_LN2)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return s.select(
        id_col, "n_chars", "n_distinct", "entropy",
        norm.alias("entropy_norm"),
    )


def _bpe_chain(df: DataFrame, n_merges: int, text_col: str):
    """Shared BPE learning chain: returns (list of 1-row best-pair
    DataFrames, final word->symbols DataFrame). See bpe_train.

    Memoized on the input plan + params (r13): four registry keys
    (bpe_train, bpe_encode, bpe_vocab_coverage, tokenizer_fertility)
    learn the SAME merge table from the same corpus, and the chain's
    n_merges localCheckpoint rounds plus the per-round lambda trees
    cost ~2 s of plan-build each."""
    slot = Slot(f"bpe:{n_merges}:{text_col}", df)
    hit = slot.get(lambda cached: len(cached[0]) == n_merges
                   and cached[1].columns == ["word", "freq", "sym"])
    if hit is not None:
        return list(hit[0]), hit[1]
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        # byte == char guard: train on printable-ASCII words only, so
        # the character split is identical in any engine/encoding
        # (standard byte-level pre-tokenization simplification)
        .filter(F.col("word").rlike(r"^[\x20-\x7e]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        # the ONLY corpus-scale shuffle; everything after is bounded
        # by |vocab|.  Checkpoint once so the per-round pair counts
        # do not re-run the corpus scan (pagerank's edge idiom).
        .localCheckpoint(eager=False)
    )
    # one-string SQL expressions below (r13, the ANN build-cost rule):
    # the per-round Column lambdas cost hundreds of py4j round-trips
    # each x n_merges rounds; the strings emit the SAME trees in one
    # call apiece
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
    )
    syms = words.select(
        "word", "freq", F.concat(chars, F.array(F.lit("</w>"))).alias("sym")
    )
    pair = F.expr(
        "zip_with(slice(sym, 1, size(sym) - 1),"
        " slice(sym, 2, size(sym) - 1),"
        " (a, b) -> struct(a AS a, b AS b))"
    )
    bests = []
    for r in range(1, n_merges + 1):
        # adjacent symbol pairs, weighted by word frequency
        pc = (
            syms.select("freq", F.explode(pair).alias("p"))
            .groupBy(F.col("p.a").alias("lhs"), F.col("p.b").alias("rhs"))
            .agg(F.sum("freq").alias("pair_count"))
        )
        best = (
            pc.orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            .select(
                F.lit(r).alias("merge_round"), "lhs", "rhs",
                F.concat("lhs", "rhs").alias("merged"), "pair_count",
            )
            .localCheckpoint(eager=False)  # 1 row, used twice
        )
        bests.append(best)
        # greedy left-to-right merge application (the BPE fold): a
        # freshly merged token cannot immediately re-merge with the
        # next symbol in the same pass ("aaa" + (a,a) -> [aa, a])
        merged_sym = F.expr(
            "aggregate(sym, CAST(array() AS array<string>),"
            " (acc, x) -> CASE WHEN (try_element_at(acc, -1) <=> lhs)"
            " AND (x = rhs)"
            " THEN concat(slice(acc, 1, size(acc) - 1),"
            " array(concat(lhs, rhs)))"
            " ELSE concat(acc, array(x)) END)"
        )
        syms = (
            syms.crossJoin(F.broadcast(best))
            .select("word", "freq", merged_sym.alias("sym"))
            .localCheckpoint(eager=False)  # cut lineage per round
        )
    slot.put((tuple(bests), syms), persist=False)
    return bests, syms


def bpe_train(
    df: DataFrame, n_merges: int = 5, text_col: str = "text"
) -> DataFrame:
    """Distributed byte-pair-encoding tokenizer training (Sennrich
    2016, arXiv:1508.07909) with a FIXED merge count — the tokenizer-
    fitting step of a training-data pipeline, run on the corpus the
    model will train on.

    Algorithm (classic word-frequency BPE): words are split into
    characters + a '</w>' end-of-word marker; each round counts
    adjacent symbol pairs weighted by word frequency, picks the most
    frequent pair (ties broken lexicographically on (lhs, rhs) for
    determinism), and merges every left-to-right occurrence.

    Scale shape: ONE corpus-scale shuffle (the word-frequency
    groupBy, map-side combined); every subsequent round is bounded by
    |vocab| (Zipf: millions of rows at 100 TB, trivial), i.e. the
    Sennrich trick of training on word counts instead of the corpus.
    The word table and each round's symbols are localCheckpoint-ed so
    round N does not re-run rounds 1..N-1 or the corpus scan; the
    winning pair is a broadcast 1-row join, never a driver collect.

    Deterministic in any engine: integer pair counts, lexicographic
    tie-break, and an ASCII-only word guard so the char split cannot
    diverge across encodings.  Returns one row per merge rule:
    (merge_round, lhs, rhs, merged, pair_count).
    """
    bests, _ = _bpe_chain(df, n_merges, text_col)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.orderBy("merge_round")


def bpe_encode(
    df: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the merges learned by bpe_train to every document and
    report its BPE token count — the token-budget measurement a
    training run plans against (complements the ~4-chars/piece
    estimate in token_count with the real learned-vocab number).

    Shape: the learned word->symbols table (|vocab| rows) joins the
    exploded corpus words token-keyed — the Zipf-skewed join AQE
    skew-splits, the unigram_nll pattern.  Words outside the learned
    vocab (non-ASCII, excluded from training) fall back to
    char-count + 1 pieces ('</w>'), the char-level encoding.
    Returns (doc_id, n_words, n_bpe_tokens)."""
    _, vocab = _bpe_chain(df, n_merges, text_col)
    pieces = vocab.select("word", F.size("sym").cast("long").alias("n_pieces"))
    w = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("word")
    )
    return (
        w.join(pieces, "word", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.coalesce(
                    F.col("n_pieces"),
                    (F.length("word") + F.lit(1)).cast("long"),
                )
            ).alias("n_bpe_tokens"),
        )
    )


def readability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948; the public
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/word)
    formula) with the standard cheap syllable estimator (vowel-group
    count) — the classic readability quality signal that separates
    prose from keyword soup and run-on boilerplate.

    Everything is a JVM regex count folded into the scan — zero
    shuffles, zero Python: sentences = [.!?] runs, syllables =
    [aeiouy] runs, words = whitespace tokens; every count floored at
    1 so empty/degenerate docs stay finite. Ratios are single double
    divisions of exact ints (engine-reproducible), the score one
    fixed op-order chain. Returns (id, n_words, n_sentences,
    n_syllables, words_per_sentence, syllables_per_word, flesch)."""
    n_words = F.greatest(F.size(tokens(F.col(text_col))), F.lit(1)).cast("long")
    n_sent = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    n_syll = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[aeiouyAEIOUY]+")), F.lit(1)
    ).cast("long")
    s = df.select(
        id_col,
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    return s.select(
        id_col, "n_words", "n_sentences", "n_syllables",
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4
        ).alias("flesch"),
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution:
    least-squares slope/intercept/R² of ln(freq) on ln(rank) — the
    corpus-health fingerprint (natural language sits near slope -1;
    template spam, synthetic text, and tokenizer bugs bend the
    curve). Rank ties break on the token so both engines rank
    identically.

    Shape: ONE token groupBy; the regression runs over token TYPES
    (Zipf: ~millions of rows at 100 TB, trivial) with each per-type
    ln-term quantized to decimal(30,8) BEFORE summation, so the sums
    are partition-order independent and engine-exact; the closed-form
    slope/intercept/R² is one fixed op-order double chain. Returns
    one row (n_types, n_tokens, zipf_slope, zipf_intercept, r2)."""
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    r = F.row_number().over(
        Window.orderBy(F.col("c").desc(), F.col("tok"))
    )
    xy = counts.select(
        "c",
        F.log(r.cast("double")).alias("__x"),
        F.log(F.col("c").cast("double")).alias("__y"),
    )

    def dsum8(col: Column) -> Column:
        return F.sum(col.cast("decimal(30,8)")).cast("double")

    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        dsum8(F.col("__x")).alias("__sx"),
        dsum8(F.col("__y")).alias("__sy"),
        dsum8(F.col("__x") * F.col("__x")).alias("__sxx"),
        dsum8(F.col("__x") * F.col("__y")).alias("__sxy"),
        dsum8(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    n = F.col("n_types").cast("double")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    varx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vary = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    # try_divide: a single-type corpus (varx = 0) or a perfectly flat
    # one (vary = 0) yields null slope/r2 instead of an ANSI error
    slope = F.try_divide(cov, varx)
    return s.select(
        "n_types",
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("__sy") - slope * F.col("__sx")) / n, 6
        ).alias("zipf_intercept"),
        F.round(F.try_divide(cov * cov, varx * vary), 6).alias("r2"),
    )


def mixture_plan(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    temperature: float = 2.0,
    text_col: str = "text",
) -> DataFrame:
    """Token-budget sampling plan: turn temperature-scaled mixture
    weights into the numbers a training run executes — per source,
    the token target out of `budget_tokens`, the downsampling rate,
    and the epoch count (> 1 = the source must repeat to meet its
    target, the data-constrained regime). Completes the mixture
    story: domain_mixture -> temperature_weights -> THIS -> the
    sampler.

    Same exact arithmetic as temperature_weights (integer tallies,
    global windows over the per-group table, decimal-summed
    normalizer) so both operators agree bit-for-bit; the target is
    floor(weight * budget) — floor of an IEEE product, engine-exact.
    Returns (group, n_tokens, share, weight, target_tokens,
    sample_rate, epochs)."""
    tok_n = F.size(tokens(F.col(text_col)))
    per = df.groupBy(group_col).agg(
        F.sum(tok_n).cast("long").alias("n_tokens")
    )
    wall = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(
        wall
    ).cast("double")
    staged = per.select(
        group_col, "n_tokens", share.alias("__share"),
        F.pow(share, 1.0 / temperature).alias("__pw"),
    )
    tw = (
        F.round(F.sum(F.col("__pw").cast("decimal(38,12)")).over(wall), 8)
        .cast("double")
    )
    target = F.floor(
        F.col("__pw") / tw * F.lit(float(budget_tokens))
    ).cast("long")
    with_t = staged.select(
        group_col, "n_tokens",
        F.round("__share", 6).alias("share"),
        F.round(F.col("__pw") / tw, 6).alias("weight"),
        target.alias("target_tokens"),
    )
    epochs = F.col("target_tokens").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    return with_t.select(
        group_col, "n_tokens", "share", "weight", "target_tokens",
        F.round(F.least(F.lit(1.0), epochs), 6).alias("sample_rate"),
        F.round(epochs, 6).alias("epochs"),
    )


def bpe_vocab_coverage(
    df: DataFrame, n_merges: int = 5, text_col: str = "text"
) -> DataFrame:
    """Tokenizer-quality readout for a trained [[bpe_train]] vocab:
    what fraction of corpus word OCCURRENCES the learned vocab covers
    (out-of-vocab words fall back to char-level), how many word TYPES
    merged all the way to a single piece, and the mean pieces per
    in-vocab occurrence — the "is n_merges enough" dial a tokenizer
    run is tuned by.

    Shape: the |vocab|-bounded symbol table left-joins the exploded
    corpus words (the bpe_encode join, AQE on Zipf keys); occurrence
    and type tallies are two tiny aggregates crossed into one row.
    All-integer counts; ratios are explicit floor-half-up @6 (the
    session_stats rule — occurrence/count rationals tie often).
    Returns one row: (n_word_occ, in_vocab_occ, in_vocab_frac,
    n_types, n_single_piece_types, single_piece_frac,
    mean_pieces_in_vocab)."""
    _, vocab = _bpe_chain(df, n_merges, text_col)
    pieces = vocab.select(
        "word", F.size("sym").cast("long").alias("n_pieces")
    )
    w = df.select(F.explode(tokens(F.col(text_col))).alias("word"))
    j = w.join(pieces, "word", "left")
    occ = j.agg(
        F.count(F.lit(1)).alias("n_word_occ"),
        F.sum(F.when(F.col("n_pieces").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("in_vocab_occ"),
        F.sum(F.when(F.col("n_pieces").isNotNull(), F.col("n_pieces")))
        .cast("long")
        .alias("__pieces_sum"),
    )
    ty = pieces.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("n_pieces") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_single_piece_types"),
    )

    def _round6(e):
        return F.floor(e * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return occ.crossJoin(ty).select(
        "n_word_occ",
        "in_vocab_occ",
        _round6(
            F.col("in_vocab_occ").cast("double") / F.col("n_word_occ")
        ).alias("in_vocab_frac"),
        "n_types",
        "n_single_piece_types",
        _round6(
            F.col("n_single_piece_types").cast("double") / F.col("n_types")
        ).alias("single_piece_frac"),
        _round6(
            F.col("__pieces_sum").cast("double") / F.col("in_vocab_occ")
        ).alias("mean_pieces_in_vocab"),
    )


def encoding_audit(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document text-encoding health: non-ASCII rate, control-
    character count, U+FFFD replacement-character count (the smoking
    gun of a decode-with-wrong-charset step), and a mojibake verdict
    — the data-quality tripwire a crawl pipeline runs before any
    tokenizer sees the bytes (a corrupted charset inflates token
    counts and poisons [[text_langid]] silently).

    Pure JVM regexp_count expressions folded into the scan — zero
    shuffles, zero Python. Ratios are single double divisions of
    exact ints over a >= 1 floor. Returns (id, n_chars, n_non_ascii,
    non_ascii_ratio, n_control, n_replacement, encoding_suspect)."""
    n_chars = F.greatest(F.length(F.col(text_col)), F.lit(1)).cast("long")
    n_non_ascii = F.regexp_count(
        F.col(text_col), F.lit(r"[^\x00-\x7F]")
    ).cast("long")
    n_control = F.regexp_count(
        F.col(text_col), F.lit(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")
    ).cast("long")
    n_repl = F.regexp_count(F.col(text_col), F.lit("�")).cast("long")
    ratio = F.round(
        n_non_ascii.cast("double") / n_chars.cast("double"), 6
    )
    return df.select(
        id_col,
        n_chars.alias("n_chars"),
        n_non_ascii.alias("n_non_ascii"),
        ratio.alias("non_ascii_ratio"),
        n_control.alias("n_control"),
        n_repl.alias("n_replacement"),
        (
            (n_repl > 0)
            | (n_control > 0)
            | (ratio > F.lit(0.3))
        ).alias("encoding_suspect"),
    )


def pii_screen(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """PII exposure screen per source: counts of email addresses,
    IPv4 literals, SSN-shaped ids and long digit runs — the redaction
    audit every training-data pipeline runs before release (C4/Dolma
    both regex-scrub these classes; this is the "how much is there,
    and which feed leaks it" readout that decides whether the
    [[text_scrub_pii]] redaction pass is needed at all — that
    operator rewrites documents; this one prices the problem per
    source).

    Pure JVM regexp_count expressions folded into the scan (the
    [[text_encoding_audit]] shape: zero shuffles before the
    |sources|-row groupBy, zero Python). Patterns stay inside the
    regex subset where Java (Spark) and RE2 (DuckDB) agree on
    non-overlapping match counts: character classes, bounded
    repetition, word boundaries — no lookaround, no alternation with
    differing-length arms. Returns (group, n_docs, n_docs_with_pii,
    n_emails, n_ipv4, n_ssn_like, n_long_digit_runs, pii_per_doc)."""
    t = F.col(text_col)
    emails = F.regexp_count(
        t, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ).cast("long")
    # \d{1,3} with \b fences: RE2 and Java both count the same
    # non-overlapping dotted quads
    ipv4 = F.regexp_count(
        t, F.lit(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")
    ).cast("long")
    ssn = F.regexp_count(t, F.lit(r"\b\d{3}-\d{2}-\d{4}\b")).cast("long")
    digits = F.regexp_count(t, F.lit(r"\b\d{9,}\b")).cast("long")
    per_doc = df.select(
        F.col(group_col).alias("group"),
        emails.alias("__e"),
        ipv4.alias("__i"),
        ssn.alias("__s"),
        digits.alias("__d"),
    )
    any_pii = (
        (F.col("__e") > 0) | (F.col("__i") > 0)
        | (F.col("__s") > 0) | (F.col("__d") > 0)
    )
    agg = per_doc.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(any_pii, 1).otherwise(0)).cast("long").alias(
            "n_docs_with_pii"
        ),
        F.sum("__e").alias("n_emails"),
        F.sum("__i").alias("n_ipv4"),
        F.sum("__s").alias("n_ssn_like"),
        F.sum("__d").alias("n_long_digit_runs"),
    )
    total = (
        F.col("n_emails") + F.col("n_ipv4")
        + F.col("n_ssn_like") + F.col("n_long_digit_runs")
    )
    return agg.select(
        "group", "n_docs", "n_docs_with_pii",
        "n_emails", "n_ipv4", "n_ssn_like", "n_long_digit_runs",
        (
            F.floor(
                total.cast("double") / F.col("n_docs").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("pii_per_doc"),
    )


def heaps_law(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(n) ~ K * n^beta, fit as
    a log-log regression over the (cumulative tokens, cumulative
    vocabulary) curve sampled at document boundaries in id order —
    [[text_zipf]]'s companion corpus-health fingerprint (natural text
    sits near beta ~ 0.5; beta near 1 = the corpus never repeats
    itself = likely junk/IDs; beta near 0 = heavy duplication).

    Distributed shape: a token TYPE's first occurrence is ONE groupBy
    (min (doc, pos) struct — the dedup_paragraph shape); per-doc
    new-type counts and token counts cumulate via a window over the
    |docs| table; the regression runs over |docs| points with
    per-point terms quantized to decimal before summing (the
    text_zipf rule; ln() inputs are exact integers, so both engines'
    libm see identical arguments — same contract as text_zipf's
    ln(rank)). Returns one row: (n_docs, n_tokens, vocab_size,
    heaps_ln_k, heaps_beta, r2)."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__w"),
    )
    first = toks.groupBy("__w").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("__pos").alias("p")))
        .alias("__f")
    ).select(F.col("__f.d").alias(id_col))
    new_per_doc = first.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__new")
    )
    tok_per_doc = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__nt")
    )
    d = tok_per_doc.join(new_per_doc, id_col, "left").select(
        id_col,
        "__nt",
        F.coalesce(F.col("__new"), F.lit(0)).alias("__new"),
    )
    w = Window.orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pts = d.select(
        F.sum("__nt").over(w).alias("__n"),
        F.sum("__new").over(w).alias("__v"),
    ).filter((F.col("__n") > 0) & (F.col("__v") > 0))
    x = F.log(F.col("__n").cast("double"))
    y = F.log(F.col("__v").cast("double"))

    def dsum(e):
        return F.round(F.sum(e.cast("decimal(30,8)")), 8).cast("double")

    agg = pts.agg(
        F.count(F.lit(1)).alias("__m"),
        F.max("__n").alias("n_tokens"),
        F.max("__v").alias("vocab_size"),
        dsum(F.round(x, 8)).alias("__sx"),
        dsum(F.round(y, 8)).alias("__sy"),
        dsum(F.round(x * x, 8)).alias("__sxx"),
        dsum(F.round(x * y, 8)).alias("__sxy"),
        dsum(F.round(y * y, 8)).alias("__syy"),
    )
    m = F.col("__m").cast("double")
    beta = F.try_divide(
        m * F.col("__sxy") - F.col("__sx") * F.col("__sy"),
        m * F.col("__sxx") - F.col("__sx") * F.col("__sx"),
    )
    alpha = (F.col("__sy") - beta * F.col("__sx")) / m
    r2 = F.try_divide(
        (m * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
        * (m * F.col("__sxy") - F.col("__sx") * F.col("__sy")),
        (m * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        * (m * F.col("__syy") - F.col("__sy") * F.col("__sy")),
    )
    return agg.select(
        F.col("__m").alias("n_docs"),
        "n_tokens",
        "vocab_size",
        # ln K, not exp(ln K): one fewer libm call in the hash path
        F.round(alpha, 6).alias("heaps_ln_k"),
        F.round(beta, 6).alias("heaps_beta"),
        F.round(r2, 6).alias("r2"),
    )


def jsd_sources(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k_terms: int = 2000,
) -> DataFrame:
    """Jensen-Shannon divergence between every two sources' unigram
    distributions — the corpus-mix distance matrix ("how different is
    src0 from src1") that quantifies what [[text_domain_mix]] only
    weighs by volume; 0 = identical vocabularies, ln 2 = disjoint.
    Computed over the corpus-wide top-`top_k_terms` vocabulary
    (deterministic (count, term) tie-break) so the term space is
    bounded; out-of-vocab mass is ignored (documented).

    Shape: one (source, term) groupBy, the bounded vocab as one
    TakeOrdered cut, per-source totals as windows over the
    |sources x vocab| grid, a dense grid rebuild (source x vocab,
    missing terms = 0), then a pair join bounded by sources² x vocab.
    Probabilities are single divisions of exact ints; each JSD term
    quantizes to decimal @8 pre-sum (the text_zipf libm contract).
    Returns (source_a, source_b, n_terms, jsd)."""
    tf = df.select(
        F.col(group_col).alias("src"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    ).groupBy("src", "w").agg(F.count(F.lit(1)).alias("n"))
    # six downstream branches (vocab cut, join, srcs, dense grid, both
    # pair sides) would each re-execute the corpus scan (measured 10
    # FileScans); the (src, term) table is vocabulary-bounded, so
    # checkpoint it once — the graph-ops rule
    tf = tf.localCheckpoint()
    vocab = (
        tf.groupBy("w")
        .agg(F.sum("n").alias("tot"))
        .orderBy(F.col("tot").desc(), F.col("w"))
        .limit(top_k_terms)
        .select("w")
    )
    tv = tf.join(F.broadcast(vocab), "w")
    srcs = tv.select("src").distinct()
    dense = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(tv, ["src", "w"], "left")
        .select(
            "src", "w", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    tot = F.sum("n").over(Window.partitionBy("src"))
    p = dense.select(
        "src", "w",
        (F.col("n").cast("double") / tot.cast("double")).alias("p"),
    )
    a = p.select(
        F.col("src").alias("source_a"), "w", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("src").alias("source_b"), "w", F.col("p").alias("pb")
    )
    j = a.join(b, "w").filter(F.col("source_a") < F.col("source_b"))
    mid = (F.col("pa") + F.col("pb")) / F.lit(2.0)
    term = (
        F.when(
            F.col("pa") > 0, F.col("pa") * F.log(F.col("pa") / mid)
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("pb") > 0, F.col("pb") * F.log(F.col("pb") / mid)
        ).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    q = j.select(
        "source_a", "source_b",
        F.round(term, 8).cast("decimal(30,8)").alias("__t"),
    )
    return q.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.sum("__t").cast("double"), 6).alias("jsd"),
    )


def structure_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Document LAYOUT statistics: line/paragraph counts, mean line
    length, short-line and blank-line ratios — the structure-based
    junk detector (link farms and menus are many short lines; clean
    prose is few long ones; [[text_boilerplate]] removes repeated
    units, this SCORES the shape). Pure JVM split/filter/aggregate
    expressions folded into the scan — zero shuffles; all-integer
    counts with >= 1 floors, single double divisions. Returns (id,
    n_chars, n_lines, n_paragraphs, mean_line_len, short_line_ratio,
    blank_line_ratio)."""
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("long")
    blank = F.size(F.filter(lines, lambda x: F.trim(x) == "")).cast("long")
    short = F.size(
        F.filter(
            lines,
            lambda x: (F.length(F.trim(x)) > 0)
            & (F.length(F.trim(x)) < 40),
        )
    ).cast("long")
    paras = F.greatest(
        F.size(
            F.filter(
                F.split(F.col(text_col), "\n\n+"),
                lambda x: F.trim(x) != "",
            )
        ),
        F.lit(1),
    ).cast("long")
    sum_len = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("long")
    return df.select(
        id_col,
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n_lines.alias("n_lines"),
        paras.alias("n_paragraphs"),
        F.round(sum_len.cast("double") / n_lines.cast("double"), 6).alias(
            "mean_line_len"
        ),
        F.round(short.cast("double") / n_lines.cast("double"), 6).alias(
            "short_line_ratio"
        ),
        F.round(blank.cast("double") / n_lines.cast("double"), 6).alias(
            "blank_line_ratio"
        ),
    )


def context_budget(
    df: DataFrame,
    limit_tokens: int = 128,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Context-length budget audit: what training at a fixed sequence
    length costs THIS corpus — per source, the share of documents
    exceeding `limit_tokens` and the share of TOKENS lost to
    truncation (the number that arbitrates "train at 2k or 8k" next
    to the quadratic attention bill; [[text_tokens]] counts, this
    prices the cutoff). Exact p50/p95 document lengths ride along as
    rank selections on the same key partitioning.

    One scan -> (key) window rank + one groupBy on the same
    partitioning; all-integer token counts; floor-half-up shares.
    Returns (group, n_docs, p50_tokens, p95_tokens, n_docs_over,
    frac_docs_over, n_tokens, tokens_lost, frac_tokens_lost)."""
    n_tok = F.size(tokens(F.col(text_col)))
    d = df.select(F.col(group_col).alias("group"), n_tok.alias("__n"))
    wrank = Window.partitionBy("group").orderBy("__n")
    wall = Window.partitionBy("group")
    r = d.select(
        "group", "__n",
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__cnt"),
    )
    p50_rank = F.greatest(
        F.lit(1), F.ceil(F.col("__cnt") * F.lit(0.5)).cast("long")
    )
    p95_rank = F.greatest(
        F.lit(1), F.ceil(F.col("__cnt") * F.lit(0.95)).cast("long")
    )
    over = F.col("__n") > limit_tokens
    lost = F.greatest(F.col("__n") - F.lit(limit_tokens), F.lit(0))
    agg = r.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(F.when(F.col("__rn") == p50_rank, F.col("__n"))).alias(
            "p50_tokens"
        ),
        F.max(F.when(F.col("__rn") == p95_rank, F.col("__n"))).alias(
            "p95_tokens"
        ),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias(
            "n_docs_over"
        ),
        F.sum("__n").cast("long").alias("n_tokens"),
        F.sum(lost).cast("long").alias("tokens_lost"),
    )

    def fhu(x):
        return F.floor(x * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return agg.select(
        "group", "n_docs", "p50_tokens", "p95_tokens", "n_docs_over",
        fhu(
            F.col("n_docs_over").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("frac_docs_over"),
        "n_tokens", "tokens_lost",
        fhu(
            F.col("tokens_lost").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("frac_tokens_lost"),
    )


def lang_confidence(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID confidence audit: the margin between the top two
    stopword-family ratios per document, flagging code-switched /
    mixed-language docs where [[text_langid]]'s argmax is a coin flip
    — routing those to byte-level handling instead of a wrong
    monolingual bucket is standard corpus hygiene. Same ratio
    expressions as lang_id (one scan, codegen); margin and flag are
    exact arithmetic on the floor-half-up-rounded ratios. Returns
    (doc_id, pred_lang, top_ratio, second_ratio, margin, is_mixed)."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    ratios = []
    for lang, words in STOPWORDS.items():
        sw = F.array([F.lit(w) for w in words])
        raw = (
            F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
            .cast("double") / n
        )
        ratios.append(
            F.floor(raw * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        )
    arr = F.array_sort(F.array(*ratios))
    top = F.element_at(arr, -1)
    second = F.element_at(arr, -2)
    margin = F.round(top - second, 6)
    return df.select(
        "doc_id",
        lang_pred_expr(F.col(text_col)).alias("pred_lang"),
        top.alias("top_ratio"),
        second.alias("second_ratio"),
        margin.alias("margin"),
        ((top > F.lit(0.0)) & (margin < F.lit(0.05))).alias("is_mixed"),
    )


def top_phrases(
    df: DataFrame,
    k: int = 5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Top-k bigram phrases per source by occurrence count — the
    corpus-browsing staple that surfaces boilerplate and topical
    signatures per feed before anyone reads a sample ([[text_zipf]]
    fingerprints the whole distribution; this names the heads).
    Counts are occurrences, not documents; ties rank alphabetically.
    One explode + one (group, phrase) map-side-combined groupBy +
    one rank window per group. Returns (group, rank, phrase, n)."""
    ph = df.select(
        F.col(group_col).alias("group"),
        F.explode(shingles(F.col(text_col), 2)).alias("phrase"),
    )
    g = ph.groupBy("group", "phrase").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("group").orderBy(
        F.col("n").desc(), F.col("phrase")
    )
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("group", F.col("rank").cast("long").alias("rank"),
                "phrase", "n")
    )


def common_word_ratio(
    df: DataFrame,
    top_n: int = 100,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Low-content screen with a CORPUS-DERIVED common-word list: the
    fraction of each document's tokens that fall in the corpus's own
    top-`top_n` words — docs dominated by them carry little content
    regardless of language ([[text_quality]]'s stopword ratio uses a
    FIXED English list; this adapts to whatever the corpus actually
    is, the C4-style frequency heuristic).

    Shape: one word-count groupBy, top-n via orderBy().limit()
    (TakeOrdered — never a global rank window over the vocabulary),
    broadcast onto the exploded tokens, one doc groupBy. Ties at the
    cutoff break alphabetically. Returns (id, n_tokens, n_common,
    common_ratio, is_low_content)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
    )
    top = (
        toks.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), "__w")
        .limit(top_n)
        .select("__w", F.lit(1).alias("__hit"))
    )
    j = toks.join(F.broadcast(top), "__w", "left")
    agg = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias(
            "n_common"
        ),
    )
    ratio = (
        F.floor(
            F.col("n_common").cast("double")
            / F.col("n_tokens").cast("double")
            * F.lit(1000000.0) + F.lit(0.5)
        ) / F.lit(1000000.0)
    )
    return agg.select(
        id_col, "n_tokens", "n_common",
        ratio.alias("common_ratio"),
        (ratio > F.lit(threshold)).alias("is_low_content"),
    )


def dsir_weights(
    df: DataFrame,
    target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Data Selection
    via Importance Resampling, Xie et al. 2023, arXiv 2302.03169 —
    public method): score every document by how much more likely its
    hashed unigram+bigram profile is under the TARGET slice's
    distribution than under the whole raw pool. log_weight > 0 means
    "looks like the target domain"; feed the weights to
    [[sample_weighted]] for the resampling step.

    Spark shape: one token explode -> md5 feature hashing into a
    FIXED n_buckets-bounded space (the md5 idiom every dedup/split
    operator uses, engine-portable) -> two bucket-count aggregates
    (raw and target, each n_buckets rows) -> the add-one-smoothed
    log-ratio table broadcast back onto per-doc bucket counts -> one
    per-doc sum. Everything is JVM Columns; the only corpus-scale
    shuffles are the (doc, bucket) count and the final per-doc
    groupBy. Determinism: the per-bucket log-ratio is rounded @8 (a
    per-bucket CONSTANT, same ln both engines), each doc term
    cnt*lr is rounded @8 and decimal-quantized pre-sum
    (order-independent), output rounded @6.

    `target` is a boolean Column over df's columns selecting the
    target-domain slice (e.g. F.col('lang') == 'en')."""
    t = tokens(F.col(text_col))
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = df.select(
        F.col(id_col),
        target.alias("in_target"),
        F.explode(F.concat(t, bigrams)).alias("__g"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col("__g"))), 1, 8
            ),
            16, 10,
        ).cast("long")
        % n_buckets
    )
    # (doc, bucket) counts materialized ONCE (lazy local checkpoint,
    # narrow ints): the bucket-profile aggregate and the per-doc term
    # join both read it, so the gram explode + md5 never re-execute
    db = grams.select(
        id_col, "in_target", bucket.alias("__b")
    ).groupBy(id_col, "in_target", "__b").agg(
        F.count(F.lit(1)).alias("__cnt")
    ).localCheckpoint(eager=False)
    # raw + target bucket profiles in ONE n_buckets-row aggregate
    bt = db.groupBy("__b").agg(
        F.sum("__cnt").alias("__cr"),
        F.sum(F.when(F.col("in_target"), F.col("__cnt")).otherwise(0)).alias(
            "__ct"
        ),
    )
    # totals as 1-row broadcast scalars (the sanctioned shape)
    totals = bt.agg(
        F.sum("__cr").alias("__totr"), F.sum("__ct").alias("__tott")
    )
    lr_tbl = bt.crossJoin(F.broadcast(totals)).select(
        "__b",
        F.round(
            F.log(
                (
                    (F.col("__ct") + 1).cast("double")
                    / (F.col("__tott") + n_buckets).cast("double")
                )
                / (
                    (F.col("__cr") + 1).cast("double")
                    / (F.col("__totr") + n_buckets).cast("double")
                )
            ),
            8,
        ).alias("__lr"),
    )
    terms = db.join(F.broadcast(lr_tbl), "__b").select(
        id_col,
        "in_target",
        "__cnt",
        F.round(F.col("__cnt") * F.col("__lr"), 8)
        .cast("decimal(30,8)")
        .alias("__term"),
    )
    return terms.groupBy(id_col, "in_target").agg(
        F.sum("__cnt").cast("long").alias("n_grams"),
        F.round(F.sum("__term"), 6).cast("double").alias("log_weight"),
    )


def char_trigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-trigram language-model NLL per document — the
    sub-word sibling of [[text_unigram_nll]]: fit p(tri) = tf/N on
    the corpus's own character trigrams and score each document by
    sum(-ln p). Catches what word-level NLL can't: alien scripts,
    ROT/leet obfuscation, tokenizer-hostile glue text — any document
    whose CHARACTER transitions are unusual for the corpus, even when
    its words are individually common.

    Shape mirrors unigram_nll: one trigram explode (chars via the
    char_entropy split('') convention — UTF-16 code units, a fixed
    documented choice), one groupBy(trigram) tf table, a 1-row
    broadcast total, the Zipfian re-join AQE skew-splits, one
    groupBy(doc) with decimal(30,8) accumulation. Docs shorter than
    3 chars are omitted. Returns (id, n_trigrams, nll, avg_nll)."""
    arr = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.col(text_col), ""), lambda x: x != F.lit("")
        ).alias("__a"),
    ).filter(F.size("__a") >= 3)
    g = arr.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__a") - 2),
                lambda i: F.concat(
                    F.element_at("__a", i),
                    F.element_at("__a", i + 1),
                    F.element_at("__a", i + 2),
                ),
            )
        ).alias("__gr"),
    )
    tf = g.groupBy("__gr").agg(F.count(F.lit(1)).alias("__tf"))
    total = g.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    nll = -F.log(F.col("__tf").cast("double") / F.col("__n"))
    per_doc = (
        g.join(tf, "__gr")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(F.sum(nll.cast("decimal(30,8)")), 4)
            .cast("double")
            .alias("nll"),
        )
    )
    return per_doc.select(
        id_col,
        "n_trigrams",
        "nll",
        round6_half_up(
            F.col("nll") / F.col("n_trigrams")
        ).alias("avg_nll"),
    )


def sampling_ess(
    df: DataFrame,
    weight: Column | None = None,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Effective sample size of a weighted corpus slice per group
    (Kish 1965 design effect — public classic): ESS = (Σw)² / Σw².
    The one-dial audit for any importance/quality-weighted sampling
    plan: ESS/n near 1 means weights are flat (sampling is honest);
    near 0 means a few documents dominate and the 'weighted corpus'
    is really a handful of examples — run BEFORE committing a
    mixture to training.

    `weight` defaults to the [[text_quality]] combined score clamped
    at 0. One groupBy per group with @8-quantized decimal term sums.
    Returns (by, n_docs, sum_w, ess, ess_ratio)."""
    w = F.greatest(
        weight if weight is not None else quality_expr(F.col(text_col)),
        F.lit(0.0),
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    agg = df.select(F.col(by), w.alias("__w")).groupBy(by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        dsum8(F.col("__w")).alias("__s1"),
        dsum8(F.col("__w") * F.col("__w")).alias("__s2"),
    )
    ess = F.when(
        F.col("__s2") > 0, F.col("__s1") * F.col("__s1") / F.col("__s2")
    ).otherwise(F.lit(0.0))
    return agg.select(
        by,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("__s1", 6).alias("sum_w"),
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n_docs").cast("double"), 6).alias("ess_ratio"),
    )


def idf_outliers(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean inverse document frequency + its corpus
    z-score — the vocabulary-rarity dial that separates the two
    failure modes [[text_unigram_nll]] merges: a LOW mean IDF means
    the document is built from tokens every other document also has
    (boilerplate, templates), a HIGH mean IDF means nearly every
    token is document-private (gibberish, IDs, rare-token soup).
    Uses DISTINCT per-doc tokens (the classic IDF denominator), so
    repetition inside one document doesn't move the score — that's
    [[text_repetition]]'s job.

    Shape mirrors unigram_nll: one distinct-token explode, ONE
    groupBy(token) document-frequency table, a 1-row broadcast doc
    count, the Zipfian re-join (AQE skew-split), one groupBy(doc)
    with @8-quantized decimal idf sums; corpus moments are a second
    1-row broadcast over the per-doc table. Returns (id, n_terms,
    mean_idf, idf_z)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    ndocs = df.agg(F.count(F.lit(1)).cast("double").alias("__nd"))
    idf = F.round(
        F.log(F.col("__nd") / F.col("__df").cast("double")), 8
    )
    per_doc = (
        toks.join(dfreq, "tok")
        .crossJoin(F.broadcast(ndocs))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            (
                F.round(F.sum(idf.cast("decimal(30,8)")), 8).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__mi"),
        )
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    mu = F.try_divide(F.col("__s"), F.col("__n"))
    mom = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        dsum8(F.col("__mi")).alias("__s"),
        dsum8(F.col("__mi") * F.col("__mi")).alias("__q"),
    ).select(
        mu.alias("__mu"),
        # clamp: an all-identical corpus puts the @8-quantized
        # variance a hair negative, where DuckDB's sqrt raises
        F.sqrt(
            F.greatest(
                F.try_divide(F.col("__q"), F.col("__n")) - mu * mu,
                F.lit(0.0),
            )
        ).alias("__sd"),
    )
    return per_doc.crossJoin(F.broadcast(mom)).select(
        id_col,
        "n_terms",
        F.round("__mi", 6).alias("mean_idf"),
        F.round(
            F.try_divide(F.col("__mi") - F.col("__mu"), F.col("__sd")), 4
        ).alias("idf_z"),
    )


def tokenizer_fertility(
    df: DataFrame,
    n_merges: int = 5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility per source: BPE pieces per word — the
    tokenizer-efficiency audit multilingual pipelines run before
    committing a vocab (high-fertility sources pay more compute per
    word and crowd the context window; the standard readout in the
    BLOOM/XLM tokenizer analyses). Uses the SAME learned merge table
    as [[bpe_encode]], so the number is the vocab the corpus would
    actually ship, not a proxy. Also reports the out-of-vocab word
    rate (words falling back to char-level encoding).

    Shape: the |vocab|-row word->pieces table joins the exploded
    corpus words (Zipf-skewed, AQE skew-split — the bpe_encode
    pattern), then ONE groupBy(source) of exact integer counts.
    Returns (source, n_words, n_bpe_tokens, fertility, oov_rate)."""
    _, vocab = _bpe_chain(df, n_merges, text_col)
    pieces = vocab.select("word", F.size("sym").cast("long").alias("n_pieces"))
    w = df.select(
        F.col(group_col), F.explode(tokens(F.col(text_col))).alias("word")
    )
    agg = (
        w.join(pieces, "word", "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(
                F.coalesce(
                    F.col("n_pieces"),
                    (F.length("word") + F.lit(1)).cast("long"),
                )
            ).cast("long").alias("n_bpe_tokens"),
            F.sum(F.when(F.col("n_pieces").isNull(), 1).otherwise(0))
            .cast("long").alias("__oov"),
        )
    )
    return agg.select(
        group_col, "n_words", "n_bpe_tokens",
        F.round(
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_words").cast("double"), 6,
        ).alias("fertility"),
        F.round(
            F.col("__oov").cast("double") / F.col("n_words").cast("double"),
            6,
        ).alias("oov_rate"),
    )


def neyman_allocation(
    df: DataFrame,
    budget: int = 1000,
    by: str = "source",
    size_col: str = "n_chars",
) -> DataFrame:
    """Neyman-optimal stratified sampling allocation per stratum
    (Neyman 1934 — the variance-minimizing classic): for a fixed
    label/inspection budget, sample stratum h proportionally to
    N_h S_h (stratum size x stratum std of the target variable), not
    to N_h alone — high-variance strata get oversampled because
    that's where the estimator's variance lives. The planning
    companion to [[sample_ess]] (which audits a weighting after the
    fact): this TELLS you the draw counts before you spend the
    budget. Reports the proportional allocation next to Neyman so
    the delta is visible per stratum.

    Exactness: size_col is integer, so ALL moments are exact decimal
    sums — sd comes out of one fixed-order double expression, and
    shares divide two @8-rounded doubles. Allocation counts use
    floor (never over-spends the budget; the remainder is the
    documented largest-share-agnostic slack). One groupBy + one
    1-row broadcast total. Returns (by, n_docs, mean_size, sd_size,
    neyman_share, n_alloc, prop_share)."""
    g = df.select(F.col(by), F.col(size_col).cast("long").alias("__y")) \
        .groupBy(by).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("__y").cast("decimal(38,0)")).alias("__s1"),
            F.sum(
                F.col("__y").cast("decimal(19,0)")
                * F.col("__y").cast("decimal(19,0)")
            ).alias("__s2"),
        )
    nd = F.col("n_docs").cast("double")
    mean = F.col("__s1").cast("double") / nd
    var = F.try_divide(
        F.col("__s2").cast("double")
        - F.col("__s1").cast("double") * F.col("__s1").cast("double")
        / nd,
        nd - F.lit(1.0),
    )
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    staged = g.select(
        by, "n_docs",
        F.round(mean, 6).alias("mean_size"),
        F.round(sd, 6).alias("sd_size"),
        F.round(nd * sd, 8).alias("__ns"),
    )
    tot = staged.agg(
        F.round(
            F.sum(F.round(F.col("__ns"), 8).cast("decimal(30,8)")), 8
        ).cast("double").alias("__tns"),
        F.sum("n_docs").cast("double").alias("__tn"),
    )
    out = staged.crossJoin(F.broadcast(tot))
    share = F.try_divide(F.col("__ns"), F.col("__tns"))
    return out.select(
        by, "n_docs", "mean_size", "sd_size",
        F.round(share, 6).alias("neyman_share"),
        F.floor(share * F.lit(float(budget))).cast("long")
        .alias("n_alloc"),
        F.round(F.col("n_docs").cast("double") / F.col("__tn"), 6)
        .alias("prop_share"),
    )


def pps_sample_audit(
    df: DataFrame,
    k: int = 200,
    by: str = "source",
    size_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic probability-proportional-to-size sampling audit
    per stratum (Hansen & Hurwitz 1943 / Horvitz & Thompson 1952):
    every doc gets inclusion probability pi_d = min(1, k * size_d /
    total_size) (Poisson-PPS, so draws are INDEPENDENT — no global
    coordination, the only sampling design that runs map-side at any
    scale) and is selected when its md5 uniform falls below pi_d.
    Reports, per stratum: expected vs realized draw counts, the
    Horvitz-Thompson estimate of the stratum's doc count from the
    sample alone (sum of 1/pi over selected — an estimator audit:
    ht_n_hat ~ n_docs certifies the weights), and how much of the
    stratum's byte mass the sample covers. The execution counterpart
    to [[sample_neyman]]'s planning view.

    One pass + a 1-row broadcast total; md5 uniforms are the
    agg_poisson_boot 13-nibble/2^52 construction. Returns (by,
    n_docs, expected_draws, n_selected, ht_n_hat, size_share)."""
    tot = df.agg(
        F.sum(F.col(size_col).cast("decimal(38,0)")).cast("double")
        .alias("__tot")
    )
    staged = df.select(
        F.col(by), F.col(id_col),
        F.col(size_col).cast("double").alias("__sz"),
    ).crossJoin(F.broadcast(tot))
    pi = F.least(
        F.lit(1.0),
        F.lit(float(k)) * F.col("__sz") / F.col("__tot"),
    )
    u01 = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pps:"),
                               F.col(id_col).cast("string"))),
                1, 13,
            ),
            16, 10,
        ).cast("long").cast("double")
        / F.lit(4503599627370496.0)
    )
    tagged = staged.select(
        by, "__sz",
        pi.alias("__pi"),
        (u01 < pi).cast("int").alias("__sel"),
    )

    def dsum8(e):
        return F.round(F.sum(F.round(e, 8).cast("decimal(30,8)")), 8).cast(
            "double"
        )

    g = tagged.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        dsum8(F.col("__pi")).alias("__epi"),
        F.sum("__sel").cast("long").alias("n_selected"),
        dsum8(
            F.when(F.col("__sel") == 1, F.lit(1.0) / F.col("__pi"))
            .otherwise(F.lit(0.0))
        ).alias("__ht"),
        F.sum(F.col("__sz").cast("decimal(38,0)")).cast("double")
        .alias("__szall"),
        F.sum(
            F.when(F.col("__sel") == 1, F.col("__sz"))
            .otherwise(F.lit(0.0)).cast("decimal(38,0)")
        ).cast("double").alias("__szsel"),
    )
    return g.select(
        by, "n_docs",
        F.round("__epi", 6).alias("expected_draws"),
        "n_selected",
        F.round("__ht", 6).alias("ht_n_hat"),
        F.round(F.col("__szsel") / F.col("__szall"), 6)
        .alias("size_share"),
    )


def feature_hash_audit(
    df: DataFrame,
    bits: list[int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing collision audit (Weinberger et al. 2009, the
    'hashing trick'): before a pipeline hashes its vocabulary into
    2^k feature buckets, measure what each candidate k actually
    costs — the share of token TYPES that share a bucket with
    another type, and (the number that matters for model quality)
    the share of token MASS sitting in collided buckets. Type rate
    follows the birthday bound; mass rate is usually far lower
    because head tokens rarely collide with each other — this audit
    turns 'pick 18 bits to be safe' into a measured tradeoff.

    Deterministic bucket = md5 uniform (the agg_poisson_boot
    13-nibble construction) mod 2^k. One vocab groupBy + one
    |bits|-way explode of the TYPE table (never the corpus), one
    (k, bucket) aggregate. Returns one row per k: (k_bits, n_types,
    n_buckets_used, collided_types, type_collision_rate,
    mass_collision_rate)."""
    bits = bits or [10, 14, 18]
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("__occ"))
    )
    ex = vocab.select(
        "token", "__occ",
        F.explode(F.array(*[F.lit(k) for k in bits])).alias("k_bits"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fh:"), F.col("token"))), 1, 13
            ),
            16, 10,
        ).cast("long")
        % F.pow(F.lit(2.0), F.col("k_bits").cast("double")).cast("long")
    )
    per_bucket = ex.select(
        "k_bits", h.alias("__b"), "__occ"
    ).groupBy("k_bits", "__b").agg(
        F.count(F.lit(1)).cast("long").alias("__nt"),
        F.sum("__occ").cast("long").alias("__mass"),
    )
    g = per_bucket.groupBy("k_bits").agg(
        F.sum("__nt").cast("long").alias("n_types"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_used"),
        F.sum(F.when(F.col("__nt") >= 2, F.col("__nt")).otherwise(0))
        .cast("long").alias("collided_types"),
        F.sum("__mass").cast("long").alias("__tmass"),
        F.sum(F.when(F.col("__nt") >= 2, F.col("__mass")).otherwise(0))
        .cast("long").alias("__cmass"),
    )
    return g.select(
        "k_bits", "n_types", "n_buckets_used", "collided_types",
        F.round(
            F.col("collided_types").cast("double")
            / F.col("n_types").cast("double"), 6,
        ).alias("type_collision_rate"),
        F.round(
            F.col("__cmass").cast("double")
            / F.col("__tmass").cast("double"), 6,
        ).alias("mass_collision_rate"),
    )


def token_coverage(
    df: DataFrame,
    cuts: list[int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary mass coverage at standard cut points (the
    vocab-sizing curve every tokenizer design starts from): what
    share of the corpus's TOKEN MASS do the top-k types cover? The
    Zipf head carries almost everything — this measures exactly how
    much, at the k values a vocab budget would actually pick.
    Word-level complement to [[bpe_vocab_coverage]] (which audits a
    LEARNED BPE vocab) and the cumulative view of [[text_zipf]]'s
    rank-frequency slope.

    One vocab groupBy, one global rank window over the TYPE table
    (|vocab| rows, Aggregate-bounded), one cut explode. Counts are
    exact integers end to end. Returns one row per cut:
    (vocab_cut, n_types_total, n_types_used, covered_occurrences,
    total_occurrences, mass_share)."""
    cuts = cuts or [100, 1000, 10000]
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("__occ"))
    )
    wr = Window.orderBy(F.col("__occ").desc(), "token")
    ranked = vocab.select(
        "__occ", F.row_number().over(wr).cast("long").alias("__rn")
    )
    ex = ranked.select(
        "__occ", "__rn",
        F.explode(F.array(*[F.lit(c) for c in cuts])).alias("vocab_cut"),
    )
    g = ex.groupBy("vocab_cut").agg(
        F.count(F.lit(1)).cast("long").alias("n_types_total"),
        F.sum(F.when(F.col("__rn") <= F.col("vocab_cut"), 1).otherwise(0))
        .cast("long").alias("n_types_used"),
        F.sum(
            F.when(F.col("__rn") <= F.col("vocab_cut"), F.col("__occ"))
            .otherwise(0)
        ).cast("long").alias("covered_occurrences"),
        F.sum("__occ").cast("long").alias("total_occurrences"),
    )
    return g.select(
        "vocab_cut", "n_types_total", "n_types_used",
        "covered_occurrences", "total_occurrences",
        F.round(
            F.col("covered_occurrences").cast("double")
            / F.col("total_occurrences").cast("double"), 6,
        ).alias("mass_share"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Marginal n-gram novelty per source in ingestion (id) order —
    the corpus-audit readout behind "is the next crawl batch adding
    anything?" (the diminishing-novelty curves of the Gopher /
    RefinedWeb corpus reports): a doc's distinct word n-gram shingle
    is NOVEL iff no lower-id document anywhere in the corpus contains
    it (first-occurrence attribution; repeats inside one doc count
    once via per-doc distinct shingles). A source whose novelty_rate
    collapses is re-crawling what the corpus already holds — dedup
    will throw most of it away downstream, so stop paying for it
    upstream.

    Shape: ONE shingle explode (distinct per doc, the
    [[dedup_minhash]] shingle convention) feeding ONE min-id window
    partitioned by shingle — the natural high-cardinality shuffle
    key, no skew — then a per-source rollup; the groupBy+join-back
    formulation re-executed the explode on both join sides (measured
    9.7 s -> this shape at sf0.1). All counts integer; one @6
    division. Returns (source, n_docs, n_shingles, n_novel,
    novelty_rate) ordered by source."""
    from pyspark.sql import Window

    sh = df.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(
            F.array_distinct(shingles(F.col(text_col), n))
        ).alias("__sh"),
    )
    wsh = Window.partitionBy("__sh")
    occ = sh.select(
        F.col(id_col),
        F.col(source_col),
        F.min(id_col).over(wsh).alias("__first"),
    )
    out = occ.groupBy(source_col).agg(
        F.countDistinct(id_col).cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(
            F.when(F.col(id_col) == F.col("__first"), 1).otherwise(0)
        ).cast("long").alias("n_novel"),
    )
    return out.select(
        source_col, "n_docs", "n_shingles", "n_novel",
        F.round(
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty_rate"),
    ).orderBy(source_col)


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Pairwise shingle-set overlap between sources — the "is crawl B
    already inside curated set A?" audit (set-level companion to the
    distributional [[text_jsd_sources]]): for every ordered source
    pair, |S_a ∩ S_b| over the DISTINCT word n-gram shingle sets,
    with containment |∩|/|S_a| (how much of a lives in b) and Jaccard.
    High containment_a_in_b with low Jaccard = a is a subset worth
    dropping; low both = genuinely complementary sources.

    Shape: one explode to (shingle, source) DISTINCT pairs —
    localCheckpoint-ed, because BOTH downstream branches (per-source
    totals, per-shingle source sets) consume it and the explode +
    distinct shuffle must run once, not per branch — then one groupBy
    shingle collecting its source set (sources are few — the set is
    bytes per shingle), one explode of the per-shingle source pairs +
    integer rollup; per-source totals broadcast back. Never
    materializes a doc×doc or shingle×shingle join. Returns
    (source_a, source_b, n_a, n_b, n_common, containment_a_in_b,
    jaccard) for source_a != source_b, ordered."""
    sh = df.select(
        F.col(source_col).alias("__src"),
        F.explode(
            F.array_distinct(shingles(F.col(text_col), n))
        ).alias("__sh"),
    ).distinct().localCheckpoint(eager=False)
    per = sh.groupBy("__src").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    srcs = sh.groupBy("__sh").agg(
        F.collect_set("__src").alias("__ss")
    )
    pairs = srcs.select(
        F.explode("__ss").alias("source_a"), "__ss"
    ).select(
        "source_a", F.explode("__ss").alias("source_b")
    ).filter(F.col("source_a") != F.col("source_b"))
    common = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    pa = per.select(F.col("__src").alias("source_a"),
                    F.col("__n").alias("n_a"))
    pb = per.select(F.col("__src").alias("source_b"),
                    F.col("__n").alias("n_b"))
    out = (
        common.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return out.select(
        "source_a", "source_b", "n_a", "n_b", "n_common",
        F.round(
            F.col("n_common").cast("double") / F.col("n_a").cast("double"),
            6,
        ).alias("containment_a_in_b"),
        F.round(
            F.col("n_common").cast("double") / union.cast("double"), 6
        ).alias("jaccard"),
    ).orderBy("source_a", "source_b")


def word_burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 200,
) -> DataFrame:
    """Word burstiness for the top-`top_k` collection-frequency types
    (Church & Gale 1995, "Poisson mixtures": real words repeat within
    the documents that use them far more than a Poisson spray would):
    burstiness = cf/df (mean occurrences per CONTAINING doc) next to
    the document frequency a global Poisson null predicts,
    E[df] = N·(1 − ((N−1)/N)^cf). df_ratio ≪ 1 = bursty content
    words (concentrated in few docs); df_ratio ≈ 1 = function-word
    spray. The vocabulary-level complement to [[text_repetition]]
    (within-doc) and [[text_idf_outliers]] (per-doc): a candidate
    keyword/boilerplate dial that needs no language resources.

    Shape: one token explode + vocab groupBy (cf via count, df via
    countDistinct in the same aggregate), one global rank window over
    the TYPE table (Aggregate-bounded, allowlisted) + the 1-row doc
    count broadcast; the Poisson null is one pow() per surviving
    type, base computed from the same integers on both engines (the
    fql_pow precedent). Returns (rank, tok, cf, df, burstiness,
    poisson_df, df_ratio) ordered by rank."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("cf"),
        F.countDistinct(id_col).cast("long").alias("df"),
    )
    w = Window.orderBy(F.col("cf").desc(), "tok")
    top = vocab.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "tok", "cf", "df",
    ).filter(F.col("rank") <= top_k)
    n_docs = df.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    nd = F.col("__n").cast("double")
    poisson_df = nd * (
        F.lit(1.0)
        - F.pow((nd - F.lit(1.0)) / nd, F.col("cf").cast("double"))
    )
    return (
        top.crossJoin(F.broadcast(n_docs))
        .select(
            "rank", "tok", "cf", "df",
            F.round(
                F.col("cf").cast("double") / F.col("df").cast("double"),
                6,
            ).alias("burstiness"),
            F.round(poisson_df, 6).alias("poisson_df"),
            F.round(F.col("df").cast("double") / poisson_df, 6)
            .alias("df_ratio"),
        )
        .orderBy("rank")
    )
