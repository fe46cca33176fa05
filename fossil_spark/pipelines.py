"""End-to-end training-data pipelines composed from the operator
library — the shapes a corpus-curation job actually runs, expressed
as one declarative plan so Catalyst fuses the stages (single scan of
the corpus feeding quality + language scoring, dedup keep-set
semi-join, then chunking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fossil_spark.operators import dedup, text


def curate_corpus(
    df: DataFrame,
    min_quality: float = 0.45,
    lang: str = "en",
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-filter -> language-filter -> exact-dedup -> chunk.

    Returns training-ready chunks with provenance (per-document
    quality and predicted language carried through). Scoring and
    chunking are inline Column expressions fused into one scan pass;
    the only shuffles are the dedup groupBy (map-side partial) and its
    keep-set semi-join — never a self cross product."""
    keep = dedup.exact_dedup(df, text_col=text_col, id_col=id_col).select(
        F.col("keep_id").alias(id_col)
    )
    kept = (
        df.join(keep, id_col, "left_semi")
        # scoring as inline Column expressions: join-free, fused into
        # the same scan pass
        .withColumn("quality", text.quality_expr(F.col(text_col)))
        .withColumn("pred_lang", text.lang_pred_expr(F.col(text_col)))
        .filter((F.col("quality") >= min_quality) & (F.col("pred_lang") == lang))
    )
    return text.chunk_text(
        kept, chunk_tokens=chunk_tokens, overlap=overlap, text_col=text_col,
        id_col=id_col, keep_cols=["quality", "pred_lang"],
    ).select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
        F.col("chunk_n_tokens").cast("long").alias("chunk_n_tokens"),
        F.round("quality", 6).alias("quality"),
        "pred_lang",
    )


def curate_stream(
    stream: DataFrame,
    min_quality: float = 0.45,
    lang: str = "en",
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of curate_corpus: the same scoring/chunking
    expressions over an unbounded document stream, with exact dedup as
    stateful dropDuplicates on the normalized-text hash.

    Semantics vs batch: the stream keeps the FIRST-ARRIVED copy of a
    duplicate (batch keeps the min id — a batch has no arrival order).
    Dedup state is unbounded by default; bound it with
    dropDuplicatesWithinWatermark upstream when documents carry an
    event-time column."""
    s = (
        stream.withColumn(
            "__text_hash", F.md5(dedup.normalize_text(F.col(text_col)))
        )
        .dropDuplicates(["__text_hash"])
        .withColumn("quality", text.quality_expr(F.col(text_col)))
        .withColumn("pred_lang", text.lang_pred_expr(F.col(text_col)))
        .filter((F.col("quality") >= min_quality) & (F.col("pred_lang") == lang))
    )
    return text.chunk_text(
        s, chunk_tokens=chunk_tokens, overlap=overlap, text_col=text_col,
        id_col=id_col, keep_cols=["quality", "pred_lang"],
    ).select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
        F.col("chunk_n_tokens").cast("long").alias("chunk_n_tokens"),
        F.round("quality", 6).alias("quality"),
        "pred_lang",
    )


def semdedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.5,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): cluster
    embeddings with deterministic spherical k-means, then compare
    pairs ONLY within a cluster and drop every vector that has a
    more-senior (smaller-id) neighbor above the cosine threshold.
    Clustering is what makes the pair space tractable: O(sum of
    cluster sizes squared), never corpus squared — the paper's whole
    point, and exactly the shape AQE's skew handling supervises when
    one cluster runs hot.

    Returns (id, cluster, is_kept) for every vector."""
    from fossil_spark.operators import ann as _ann

    assigned = _ann.kmeans_cluster(
        embeddings, k=n_clusters, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col), F.col("cluster"))
    v = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    av = assigned.join(v, id_col)
    a = av.select(
        F.col("cluster"),
        F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"),
    )
    b = av.select(
        F.col("cluster"),
        F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"),
    )
    # a has a smaller-id near-duplicate b -> a is dropped
    from fossil_spark.operators.ann import cosine

    dups = (
        a.join(b, "cluster")
        .filter(
            (F.col("__idb") < F.col("__ida"))
            & (F.round(cosine("__va", "__vb"), 9) >= threshold)
        )
        .select(F.col("__ida").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("__dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("is_kept"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.25,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic (embedding-space) deduplication: near-duplicate pairs
    from hyperplane-LSH buckets, transitively closed into clusters,
    one representative (minimum id) kept per cluster. Returns
    (id, keep_id, is_kept) for EVERY input vector — singletons keep
    themselves — ready to semi-join a corpus down to its semantically
    unique subset.

    Scale shape: pair generation is LSH-bucketed (never all-pairs),
    clustering is connected_components (one driver-side union-find up
    to the broadcast-sized pair count, O(diameter) join+agg rounds
    above it), the final assignment is one broadcast-friendly join."""
    pairs = dedup.embedding_neardup_pairs(
        embeddings, threshold=threshold, dim=dim, id_col=id_col
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    # component labels ARE the min reachable id
    mapped = dedup.connected_components(pairs).select(
        F.col("doc_id").alias(id_col), F.col("component").alias("__keep")
    )
    return (
        embeddings.select(id_col)
        .join(mapped, id_col, "left")
        .select(
            id_col,
            F.coalesce("__keep", F.col(id_col)).alias("keep_id"),
            (F.coalesce("__keep", F.col(id_col)) == F.col(id_col)).alias("is_kept"),
        )
    )


def drift_report(
    df: DataFrame,
    split,
    time_col: str = "time",
    by: list[str] | None = None,
    value_col: str = "value",
    every: str = "1 hour",
) -> DataFrame:
    """One-call distribution-health report per key — the readout a
    training-data pipeline runs when a new data drop lands: the exact
    two-sample KS test and the banded PSI score against the pre-
    `split` reference, plus the robust trend (Theil-Sen slope /
    Kendall tau) over the whole span. A key flagged by EITHER
    distribution test with a strong monotonic trend is drifting, not
    noisy.

    Pure composition of three oracle-proven operators joined on the
    key — each keeps its own scale shape (one sort per key / bounded
    bins / bounded bucket pairs). Returns per key: (n_before,
    n_after, ks_d, ks_crit, ks_drifted, psi, psi_shifted,
    sen_slope_per_sec, kendall_tau)."""
    from fossil_spark.operators import timeseries as ts

    by = by or []
    ks = ts.ks_drift(df, split, time_col=time_col, by=by,
                     value_col=value_col)
    psi = ts.psi_drift(df, split, time_col=time_col, by=by,
                       value_col=value_col)
    tr = ts.theil_sen_trend(df, every=every, time_col=time_col, by=by,
                            value_col=value_col)
    ksr = ks.withColumnRenamed("drifted", "ks_drifted")
    psir = psi.select(
        *by, F.col("psi"), F.col("shifted").alias("psi_shifted")
    )
    trr = tr.select(*by, "sen_slope_per_sec", "kendall_tau")
    out = ksr.join(psir, on=by) if by else ksr.crossJoin(psir)
    out = out.join(trr, on=by) if by else out.crossJoin(trr)
    return out.select(
        *by, "n_before", "n_after", "ks_d", "ks_crit", "ks_drifted",
        "psi", "psi_shifted", "sen_slope_per_sec", "kendall_tau",
    )


def quality_report(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Per-source corpus quality rollup — the one-call readout a
    training-data pipeline runs per data drop: document/token/char
    volume, mean heuristic quality, Gopher-rule pass rate, and the
    English share, per source. The batch counterpart of drift_report
    for CONTENT health rather than distribution health.

    Unlike drift_report (a join of three keyed operators), every
    component here is a pure per-row Column expression
    (quality_expr, lang_pred_expr, gopher_parts — no explode, no
    per-component shuffle), so the whole report FUSES into ONE scan
    + one map-side-combined groupBy: at 100 TB this reads the corpus
    once, where joining the four standalone operators would read it
    four times. Deterministic: quality sums accumulate in
    decimal(30,8) (the repo convention); counts are exact integers.
    Returns per source: (n_docs, n_tokens, n_chars, mean_tokens,
    mean_quality, gopher_pass_rate, n_en)."""
    from fossil_spark.operators.text import (
        gopher_parts,
        lang_pred_expr,
        quality_expr,
        tokens,
    )

    c = F.col(text_col)
    per = docs.select(
        by,
        F.size(tokens(c)).alias("__nt"),
        F.length(c).alias("__nc"),
        quality_expr(c).alias("__q"),
        lang_pred_expr(c).alias("__lang"),
        gopher_parts(c)["gopher_pass"].alias("__gp"),
    )
    agg = per.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").cast("long").alias("n_tokens"),
        F.sum("__nc").cast("long").alias("n_chars"),
        F.round(F.sum(F.col("__q").cast("decimal(30,8)")), 4)
        .cast("double").alias("__qs"),
        F.sum(F.col("__gp").cast("int")).alias("__gpn"),
        F.sum((F.col("__lang") == "en").cast("int")).alias("__en"),
    )
    return agg.select(
        by,
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_docs"), round_to
        ).alias("mean_tokens"),
        F.round(F.col("__qs") / F.col("n_docs"), round_to)
        .alias("mean_quality"),
        F.round(
            F.col("__gpn").cast("double") / F.col("n_docs"), round_to
        ).alias("gopher_pass_rate"),
        F.col("__en").cast("long").alias("n_en"),
    )


def dedup_savings(docs: DataFrame) -> DataFrame:
    """The "what does dedup buy me" readout: near-dup components over
    the MinHash pair graph, one canonical representative (min doc_id)
    kept per component, and the document/token volume the dedup pass
    would remove — the number a 100 TB curation run budgets storage
    and train-token counts against.

    Pure composition of two oracle-proven operators: connected_
    components(minhash_lsh_pairs) broadcast-joined onto per-doc token
    counts, then ONE aggregate. Returns one row (n_docs, n_tokens,
    n_dup_docs, n_removable_docs, n_removable_tokens,
    token_savings_frac)."""
    comp = dedup.neardup_components(docs)
    toks = text.token_count(docs).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    t = toks.join(F.broadcast(comp), "doc_id", "left")
    in_dup = F.col("component").isNotNull()
    removable = in_dup & (F.col("component") != F.col("doc_id"))
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(F.when(in_dup, 1).otherwise(0)).cast("long").alias("n_dup_docs"),
        F.sum(F.when(removable, 1).otherwise(0))
        .cast("long")
        .alias("n_removable_docs"),
        F.sum(F.when(removable, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("n_removable_tokens"),
        F.round(
            F.sum(F.when(removable, F.col("n_tokens")).otherwise(0)).cast(
                "double"
            )
            / F.sum("n_tokens").cast("double"),
            6,
        ).alias("token_savings_frac"),
    )


def mixture_apply(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    temperature: float = 2.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Execute a [[sample_mixture_plan]]: apply each source's planned
    downsample rate with the deterministic md5 rule (keep a doc when
    md5(salt:id) mod 1e6 < rate * 1e6 — the stratified_sample rule, so
    the selection is identical across runs/engines/cluster sizes) and
    report achieved vs targeted token volume per source. This closes
    the mixture loop: domain share -> temperature weight -> token plan
    -> EXECUTED sample, with the achieved/target ratio as the sanity
    readout (hash sampling is unbiased, so the ratio hovers near 1 for
    sources with rate < 1 and equals n/target for saturated ones).

    Shape: the |sources|-row plan broadcasts onto one doc scan; the
    plan side re-reads the corpus for its token tallies (2 scans
    total, both map-side-combined aggs). Returns (source, n_docs,
    kept_docs, n_tokens, kept_tokens, target_tokens, sample_rate,
    achieved_vs_target)."""
    plan = text.mixture_plan(
        docs, budget_tokens, group_col, temperature, text_col
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"), F.col(id_col).cast("string")
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 1_000_000
    )
    tok_n = F.size(text.tokens(F.col(text_col)))
    d = docs.select(
        group_col, F.col(id_col), tok_n.alias("__tn"), h.alias("__h")
    )
    j = d.join(
        F.broadcast(plan.select(group_col, "sample_rate", "target_tokens")),
        group_col,
    )
    kept = F.col("__h") < F.col("sample_rate") * 1_000_000
    agg = j.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("kept_docs"),
        F.sum("__tn").cast("long").alias("n_tokens"),
        F.sum(F.when(kept, F.col("__tn")).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
        F.first("sample_rate").alias("sample_rate"),
        F.first("target_tokens").alias("target_tokens"),
    )
    return agg.select(
        group_col, "n_docs", "kept_docs", "n_tokens", "kept_tokens",
        "target_tokens", "sample_rate",
        F.round(
            F.try_divide(
                F.col("kept_tokens").cast("double"),
                F.col("target_tokens").cast("double"),
            ),
            6,
        ).alias("achieved_vs_target"),
    )


def anomaly_summary(events: DataFrame) -> DataFrame:
    """Comparative anomaly-detector audit: how many alerts each
    detector family raises on the same stream — bucket bursts
    ([[ts_bursts]]), Hampel spikes ([[ts_hampel]]), threshold
    episodes ([[ts_threshold_episodes]]) and error-rate incidents
    ([[ts_error_episodes]]) in one readout, the [[dedup_method_compare]]
    of the anomaly family ("which detector earns its pager" — a rule
    that fires 600x/month is fatigue, not coverage). Pure composition
    of four oracle-proven operators; each count is that detector's
    emitted-row count under its registry parameters. Returns one row
    per detector: (detector, n_alerts)."""
    from fossil_spark.operators import timeseries as ts

    b = ts.bursts(events, "1 hour", 24, 1.2, "ts", ["event_type"])
    h = ts.hampel(
        events, 25, 3.0, "ts", ["event_type"], "value", ["event_id"]
    )
    te = ts.threshold_episodes(
        events, 80.0, "ts", ["event_type"], "value", ["event_id"]
    )
    ee = ts.error_episodes(events, "error", 0.3, "1 hour", "ts",
                           "event_type")

    def one(df, name):
        return df.agg(
            F.lit(name).alias("detector"),
            F.count(F.lit(1)).alias("n_alerts"),
        )

    return (
        one(b, "bucket_burst")
        .unionByName(one(h, "hampel_spike"))
        .unionByName(one(te, "threshold_episode"))
        .unionByName(one(ee, "error_incident"))
    )


def dedup_aware_sample(
    docs: DataFrame,
    rate: float = 0.5,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "cur",
) -> DataFrame:
    """Dedup-aware curation sample: drop near-dup non-representatives
    FIRST (the [[dedup_minhash]] component table — keeping them would
    let a 40-copy boilerplate cluster buy 40 lottery tickets), then
    the deterministic md5 downsample at `rate` — the order every
    curation recipe prescribes (dedup before sampling, or the sample
    re-inflates duplicates). Reports, per source, how the two stages
    compound: raw -> canonical -> sampled docs and token volume.

    Shape: the session-shared component catalog
    ([[dedup_rate_by_source]]'s table, computed once) broadcasts onto
    one doc scan; one |sources|-row groupBy. The md5 rule is the
    stratified_sample rule — identical selection across runs, engines
    and cluster sizes. Returns (source, n_docs, n_canonical,
    n_sampled, n_tokens, sampled_tokens, realized_rate)."""
    comp = dedup.neardup_components(docs)
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"), F.col(id_col).cast("string")
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 1_000_000
    )
    tok_n = F.size(text.tokens(F.col(text_col)))
    d = docs.select(
        group_col, F.col(id_col), tok_n.alias("__tn"), h.alias("__h")
    ).join(F.broadcast(comp), id_col, "left")
    canonical = F.col("component").isNull() | (
        F.col("component") == F.col(id_col)
    )
    sampled = canonical & (F.col("__h") < F.lit(int(rate * 1_000_000)))
    agg = d.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(canonical, 1).otherwise(0)).cast("long").alias(
            "n_canonical"
        ),
        F.sum(F.when(sampled, 1).otherwise(0)).cast("long").alias(
            "n_sampled"
        ),
        F.sum("__tn").cast("long").alias("n_tokens"),
        F.sum(F.when(sampled, F.col("__tn")).otherwise(0))
        .cast("long")
        .alias("sampled_tokens"),
    )
    return agg.select(
        group_col, "n_docs", "n_canonical", "n_sampled", "n_tokens",
        "sampled_tokens",
        (
            F.floor(
                F.col("n_sampled").cast("double")
                / F.col("n_docs").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("realized_rate"),
    )


def source_health(docs: DataFrame) -> DataFrame:
    """One-stop per-source curation dashboard: volume, near-dup
    contamination, PII exposure, quality, language mix and encoding
    health in ONE row per feed — the procurement table a 100 TB
    corpus review starts from (each column has a dedicated deep-dive
    operator: [[dedup_rate_by_source]], [[text_pii]], [[text_quality]],
    [[text_langid]], [[text_encoding_audit]]; this is their
    executive rollup, arithmetic-identical to each).

    Shape (r14): ONE corpus scan computes EVERY per-doc feature —
    tokens materialize once behind a Generate barrier (explode of a
    single-element array; CollapseProject re-inlines a plain
    projection into every downstream reference, and the language
    argmax references the token array ~34x), then token count, PII
    flags, encoding flags, the four language ratios, mean word length
    and punctuation ratio compute ONCE into a single struct behind a
    second barrier; language prediction and the quality score read the
    struct fields (arithmetic-identical to lang_pred_expr /
    quality_score — same subexpressions, same fold order). Near-dup
    membership comes from [[dedup_minhash]]'s LSH buckets
    (lsh_membership) instead of the component catalog: this rollup
    only tests `IS NOT NULL`, and the component labels cost O(graph
    diameter) join+count DRIVER actions at plan-build time (13.8 of
    the 15.3 cold seconds, r14 profile). One broadcast join, one
    |sources|-row groupBy. Returns (source, n_docs, n_tokens,
    dup_rate, pii_doc_rate, suspect_rate, en_share, mean_quality)."""
    from fossil_spark.operators.text import STOPWORDS, tokens

    t = F.col("text")
    emails = F.regexp_count(
        t, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    )
    ipv4 = F.regexp_count(
        t, F.lit(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")
    )
    ssn = F.regexp_count(t, F.lit(r"\b\d{3}-\d{2}-\d{4}\b"))
    digits = F.regexp_count(t, F.lit(r"\b\d{9,}\b"))
    has_pii = (emails > 0) | (ipv4 > 0) | (ssn > 0) | (digits > 0)
    n_chars = F.greatest(F.length(t), F.lit(1))
    n_non_ascii = F.regexp_count(t, F.lit(r"[^\x00-\x7F]"))
    n_control = F.regexp_count(t, F.lit(r"[\x00-\x08\x0B\x0C\x0E-\x1F]"))
    n_repl = F.regexp_count(t, F.lit("�"))
    suspect = (
        (n_repl > 0)
        | (n_control > 0)
        | (
            F.round(n_non_ascii.cast("double") / n_chars.cast("double"), 6)
            > F.lit(0.3)
        )
    )
    # the inner quality join used to drop null-id docs; keep that
    # semantic explicitly now that no inner join remains
    tk = docs.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", "source", "text",
        F.explode(F.array(tokens(t))).alias("__tk"),
    )
    n = F.size(F.col("__tk"))

    def ratio(lang: str):
        sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
        return (
            F.size(
                F.filter(F.col("__tk"), lambda x: F.array_contains(sw, x))
            ).cast("double")
            / n
        )

    mean_word_len = (
        F.aggregate(
            F.col("__tk"), F.lit(0), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / n
    )
    punct_ratio = (
        F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0)).cast("double")
        / F.length(t)
    )
    feat = tk.select(
        "doc_id", "source",
        F.explode(
            F.array(
                F.struct(
                    n.alias("tn"),
                    has_pii.alias("pii"),
                    suspect.alias("sus"),
                    ratio("en").alias("r_en"),
                    ratio("de").alias("r_de"),
                    ratio("fr").alias("r_fr"),
                    ratio("es").alias("r_es"),
                    mean_word_len.alias("mwl"),
                    punct_ratio.alias("pr"),
                )
            )
        ).alias("__f"),
    )
    fc = F.col
    best = F.greatest(
        fc("__f.r_en"), fc("__f.r_de"), fc("__f.r_fr"), fc("__f.r_es")
    )
    lang = (
        F.when(best == F.lit(0.0), F.lit("other"))
        .when(fc("__f.r_en") == best, F.lit("en"))
        .when(fc("__f.r_de") == best, F.lit("de"))
        .when(fc("__f.r_fr") == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    quality = (
        F.lit(0.4) * fc("__f.r_en")
        + F.lit(0.4)
        * (F.lit(1.0) - F.abs(fc("__f.mwl") - F.lit(5.0)) / F.lit(5.0))
        + F.lit(0.2) * (F.lit(1.0) - fc("__f.pr"))
    )
    base = feat.select(
        "doc_id", "source",
        fc("__f.tn").alias("__tn"),
        fc("__f.pii").alias("__pii"),
        fc("__f.sus").alias("__sus"),
        lang.alias("__lang"),
        F.round(quality, 6).cast("decimal(30,6)").alias("__q"),
    )
    member = dedup.lsh_membership(docs).withColumn("__dup", F.lit(True))
    j = base.join(F.broadcast(member), "doc_id", "left")

    def rate(cond):
        return F.floor(
            F.sum(F.when(cond, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
            * F.lit(1000000.0) + F.lit(0.5)
        ) / F.lit(1000000.0)

    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tn").cast("long").alias("n_tokens"),
        rate(F.col("__dup").isNotNull()).alias("dup_rate"),
        rate(F.col("__pii")).alias("pii_doc_rate"),
        rate(F.col("__sus")).alias("suspect_rate"),
        rate(F.col("__lang") == "en").alias("en_share"),
        F.round(
            F.sum("__q").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_quality"),
    )


def split_leakage(
    docs: DataFrame,
    weights: tuple[int, int, int] = (8, 1, 1),
    salt: str = "gsplit",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/test contamination audit at the SPLIT level: how many
    near-dup pairs ([[dedup_minhash]]'s candidate graph) STRADDLE the
    hash split — the leakage Lee et al. 2022 measured (a test doc
    whose near-twin sits in train inflates eval), and the reason
    [[sample_group_split]] splits by GROUP. Per-doc splits come from
    the same md5 rule as group_split, computed as pure expressions on
    the pair table (no join back to the corpus: the split of an id is
    a function of the id). Returns one row per (split_a, split_b)
    with (n_pairs, is_leak); SUM(n_pairs) WHERE is_leak is the
    contamination headline."""
    total = sum(weights)

    def split_of(c):
        bucket = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % total
        )
        return (
            F.when(bucket < weights[0], F.lit("train"))
            .when(bucket < weights[0] + weights[1], F.lit("val"))
            .otherwise(F.lit("test"))
        )

    pairs = dedup.minhash_lsh_pairs(docs, text_col, id_col)
    tagged = pairs.select(
        split_of(F.col("doc_a")).alias("split_a"),
        split_of(F.col("doc_b")).alias("split_b"),
    )
    return tagged.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).select(
        "split_a", "split_b", "n_pairs",
        (F.col("split_a") != F.col("split_b")).alias("is_leak"),
    )


def curation_waterfall(
    docs: DataFrame,
    min_quality: float = 0.45,
    lang: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stage-attributed removal accounting for the [[pipeline_curate]]
    recipe: every document is charged to the FIRST stage that drops
    it — exact-dedup, quality, language, PII — or to 'kept', with doc
    and token volume per stage. This is the waterfall chart a corpus
    review opens with ("dedup costs 8%, the language filter 31%..."),
    and the tuning loop for filter thresholds: [[pipeline_dedup_savings]]
    prices ONE stage; this prices the interaction-ordered stack.

    Shape: ONE fused scan computes quality, language, PII and token
    count as codegen'd expressions; the dedup keeper flag is the
    exact-dedup groupBy joined back on the narrow text hash. One
    5-row groupBy ends it. Returns (stage, stage_order, n_docs,
    n_tokens, frac_docs)."""
    from fossil_spark.operators.text import lang_pred_expr, quality_expr, tokens

    t = F.col(text_col)
    h = F.md5(dedup.normalize_text(t))
    base = docs.select(
        F.col(id_col),
        h.alias("__h"),
        F.size(tokens(t)).alias("__tn"),
        quality_expr(t).alias("__q"),
        lang_pred_expr(t).alias("__lang"),
        (
            (F.regexp_count(t, F.lit(
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")) > 0)
            | (F.regexp_count(t, F.lit(
                r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")) > 0)
            | (F.regexp_count(t, F.lit(r"\b\d{3}-\d{2}-\d{4}\b")) > 0)
            | (F.regexp_count(t, F.lit(r"\b\d{9,}\b")) > 0)
        ).alias("__pii"),
    )
    keep = base.groupBy("__h").agg(F.min(id_col).alias("__keep"))
    j = base.join(keep, "__h")
    stage = (
        F.when(F.col(id_col) != F.col("__keep"), F.lit("dedup"))
        .when(F.col("__q") < F.lit(min_quality), F.lit("quality"))
        .when(F.col("__lang") != F.lit(lang), F.lit("language"))
        .when(F.col("__pii"), F.lit("pii"))
        .otherwise(F.lit("kept"))
    )
    order = (
        F.when(F.col("stage") == "dedup", 1)
        .when(F.col("stage") == "quality", 2)
        .when(F.col("stage") == "language", 3)
        .when(F.col("stage") == "pii", 4)
        .otherwise(5)
    )
    # checkpoint the 5-row stage table: the total is a second consumer
    # and a lazy plan would re-execute the scan+dedup pipeline for it
    agg = j.select(stage.alias("stage"), "__tn").groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tn").cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)
    total = agg.agg(F.sum("n_docs").alias("__total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "stage",
        order.cast("long").alias("stage_order"),
        "n_docs",
        "n_tokens",
        (
            F.floor(
                F.col("n_docs").cast("double")
                / F.col("__total").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("frac_docs"),
    )


def soft_dedup_weights(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Soft dedup: instead of dropping near-dup non-representatives,
    weight every member of an n-doc component by 1/n — the
    duplication-aware TRAINING WEIGHT scheme (repeat-exposure scales
    down smoothly; rare docs keep weight 1), reported per source as
    the effective corpus size vs the raw count. The dedup literature's
    middle path between keep-all and [[sample_dedup_aware]]'s hard
    drop. Weights are exact 1/n rationals accumulated in decimal.
    Composes the session component catalog + a |components| count
    broadcast. Returns (source, n_docs, effective_docs,
    effective_frac)."""
    comp = dedup.neardup_components(docs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("__csize")
    )
    j = (
        docs.select(group_col, id_col)
        .join(F.broadcast(comp), id_col, "left")
        .join(F.broadcast(sizes), "component", "left")
    )
    weight = F.round(
        F.lit(1.0) / F.coalesce(F.col("__csize"), F.lit(1)).cast("double"),
        8,
    ).cast("decimal(30,8)")
    agg = j.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(weight).alias("__eff"),
    )
    return agg.select(
        group_col, "n_docs",
        F.round(F.col("__eff"), 6).cast("double").alias("effective_docs"),
        (
            F.floor(
                F.col("__eff").cast("double")
                / F.col("n_docs").cast("double")
                * F.lit(1000000.0) + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("effective_frac"),
    )


def dsir_select(
    docs: DataFrame,
    target,
    keep_frac: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """End-to-end DSIR data selection: score every document with
    [[text.dsir_weights]] (hashed n-gram target/raw likelihood
    ratio), keep the top `keep_frac` of the corpus by weight, and
    report the per-source outcome — the "what would importance
    resampling actually pull from each source" readout a mixture
    review opens with.

    The top-k cut is EXACT but never ranks corpus rows through one
    partition: the threshold is the largest distinct weight whose
    descending cumulative doc count reaches ceil(keep_frac * n) —
    one |distinct weights|-bounded aggregate plus a global cumsum
    window ABOVE it (the agg_purchase_cadence pattern, lint-bounded),
    then a broadcast scalar join back. Docs tied at the threshold all
    keep (deterministic; the kept count can exceed keep_frac by the
    tie width). Returns one row per source: (source, n_docs,
    n_selected, selection_rate, mean_log_weight, mean_selected_weight).
    """
    from pyspark.sql import Window

    w = text.dsir_weights(docs, target, text_col=text_col, id_col=id_col)
    scored = w.join(
        docs.select(id_col, source_col), id_col
    ).localCheckpoint(eager=False)
    dist = scored.groupBy("log_weight").agg(
        F.count(F.lit(1)).alias("__c")
    )
    wcum = Window.orderBy(F.col("log_weight").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    thresh = (
        dist.select(
            "log_weight",
            F.sum("__c").over(wcum).alias("__cum"),
            F.sum("__c").over(wall).alias("__n"),
        )
        .agg(
            # rows at or past the quota in DESC order all have
            # cum >= quota; the threshold is the LARGEST of them (the
            # weight at the quota position) — max, not min
            F.max(
                F.when(
                    F.col("__cum")
                    >= F.ceil(F.col("__n") * F.lit(float(keep_frac))),
                    F.col("log_weight"),
                )
            ).alias("__thresh")
        )
    )
    sel = scored.crossJoin(F.broadcast(thresh)).withColumn(
        "__keep", F.col("log_weight") >= F.col("__thresh")
    )
    # means = decimal-exact sums rounded @6 then ONE double division
    # (the baseline_stats idiom: both engines divide identical doubles)
    return sel.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__keep").cast("long")).alias("n_selected"),
        (
            F.floor(
                F.sum(F.col("__keep").cast("long")).cast("double")
                / F.count(F.lit(1)) * F.lit(1000000.0)
                + F.lit(0.5)
            ) / F.lit(1000000.0)
        ).alias("selection_rate"),
        (
            F.round(F.sum(F.col("log_weight").cast("decimal(30,8)")), 6)
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_log_weight"),
        (
            F.round(
                F.sum(
                    F.when(F.col("__keep"), F.col("log_weight"))
                    .otherwise(F.lit(0.0))
                    .cast("decimal(30,8)")
                ),
                6,
            ).cast("double")
            / F.greatest(
                F.sum(F.col("__keep").cast("long")), F.lit(1)
            ).cast("double")
        ).alias("mean_selected_weight"),
    )
