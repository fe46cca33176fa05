"""Graph analytics over similarity graphs.

The near-dup pair list (dedup.minhash_lsh_pairs, embedding_neardup_
pairs) is an edge list; these operators answer the corpus-curation
questions that follow: how CONNECTED is each document (degree — a
boilerplate/template signal), and which documents are most CENTRAL
(PageRank — pick the canonical representative of a template family,
or weight documents by hubness). Complements dedup.connected_
components (which answers "which cluster").

Design rules match the rest of the engine: edges shuffle once per
round keyed by node id; per-round driver-sync budget is ONE action;
rank sums accumulate in decimal so results are partition-order
independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from fossil_spark.catalog import Slot


def _symmetric_edges(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    # explode, NOT union-of-two-selects: a union re-executes the whole
    # upstream pair pipeline (minhash etc.) once per branch — the
    # re-execution pitfall the round-4 plan audit hunted down
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )


def degrees(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Degree per node of the undirected pair graph — the cheapest
    'how template-like is this doc' signal (a doc near-duplicate to
    hundreds of others is boilerplate). One exploded endpoint pass +
    one map-side-combined groupBy. Returns (doc_id, degree)."""
    return (
        _symmetric_edges(pairs, a_col, b_col)
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def pagerank(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    damping: float = 0.85,
    n_iter: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """PageRank over the undirected pair graph (power iteration,
    fixed rounds — Page et al. 1999). Every node has degree >= 1 by
    construction (it appears in a pair), so there is no dangling
    mass. Deterministic: contribution sums accumulate in
    decimal(38,18) before the damping blend, so ranks are bit-stable
    under any partitioning.

    Scale shape: the edge list is localCheckpoint-ed ONCE (lazily;
    the node count materializes it), so upstream pair generation
    (minhash, LSH) runs once, not once per round. Each round is one
    join + one groupBy keyed by node id; lineage is cut per round.
    Returns (doc_id, degree, pagerank)."""
    edges = _symmetric_edges(pairs, a_col, b_col).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("id"), "deg")
    n_nodes = nodes.count()  # also materializes the edge checkpoint
    if n_nodes == 0:
        return pairs.sparkSession.createDataFrame(
            [], "doc_id long, degree long, pagerank double"
        )
    base = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(n_iter):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
        )
        new = contribs.groupBy("id").agg(
            (
                F.lit(base)
                + F.lit(damping)
                * F.sum(F.col("c").cast("decimal(38,18)")).cast("double")
            ).alias("rank")
        )
        # symmetric graph: every node receives >= 1 contribution, so
        # the new rank table covers all nodes; re-attach degrees
        ranks = nodes.join(new, "id").select("id", "deg", "rank")
        ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        F.col("id").alias("doc_id"),
        F.col("deg").cast("long").alias("degree"),
        F.round("rank", round_to).alias("pagerank"),
    )


def triangles(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    round_to: int = 6,
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient of the
    undirected pair graph — the cluster-quality readout on a near-dup
    graph: a doc whose neighbors are also near-dups of EACH OTHER
    (high clustering) sits inside a tight template family, while a
    high-degree / zero-triangle doc is a hub stitching unrelated
    groups together (a spurious-edge smell before collapsing
    components).

    Shape: the degree-ordered node-iterator (orient every edge from
    the lower (degree, id) endpoint, join wedges at the shared source
    against the closing oriented edge) — out-degrees after this
    orientation are O(sqrt(m)), so the wedge join is bounded even on
    skewed graphs where a naive neighbor self-join blows up on the
    hub. Edges localCheckpoint once (the pagerank convention) so the
    upstream minhash pair pipeline runs once, not per self-join
    branch. Counts are exact integers — no float path at all until
    the final coefficient. Returns (doc_id, degree, n_triangles,
    clustering) for EVERY node of the pair graph (zero-triangle nodes
    included)."""
    edges = _symmetric_edges(pairs, a_col, b_col).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # undirected edge set (one row per edge), then orient by the
    # (degree, id) total order: src is the "smaller" endpoint
    und = edges.filter(F.col("src") < F.col("dst"))
    ds = deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
    dd = deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
    keyed = (
        und.join(ds, und["src"] == ds["u"])
        .join(dd, und["dst"] == dd["v"])
        .select(
            F.struct(
                F.col("du").alias("k"), F.col("src").alias("i")
            ).alias("ka"),
            F.struct(
                F.col("dv").alias("k"), F.col("dst").alias("i")
            ).alias("kb"),
            "src", "dst",
        )
    )
    e_or = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("src"))
        .otherwise(F.col("dst")).alias("s"),
        F.when(F.col("ka") < F.col("kb"), F.col("dst"))
        .otherwise(F.col("src")).alias("d"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb"))
        .otherwise(F.col("ka")).alias("kd"),
    ).localCheckpoint(eager=False)
    e1 = e_or.select(
        F.col("s").alias("a"), F.col("d").alias("b"), F.col("kd").alias("k1")
    )
    e2 = e_or.select(
        F.col("s").alias("a2"), F.col("d").alias("c"), F.col("kd").alias("k2")
    )
    wedges = e1.join(e2, (e1["a"] == e2["a2"]) & (e1["k1"] < e2["k2"]))
    closing = e_or.select(F.col("s").alias("b"), F.col("d").alias("c"))
    tri = wedges.join(closing, on=["b", "c"]).select("a", "b", "c")
    per_node = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out = (
        deg.select(F.col("src").alias("id"), "deg")
        .join(per_node, on="id", how="left")
        .na.fill({"n_triangles": 0})
    )
    coeff = F.when(
        F.col("deg") >= 2,
        F.round(
            2.0 * F.col("n_triangles").cast("double")
        / (F.col("deg").cast("double") * (F.col("deg").cast("double") - 1.0)),
            round_to,
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("deg").cast("long").alias("degree"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        coeff.alias("clustering"),
    )


def label_propagation(
    pairs: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 3,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 12,
) -> DataFrame:
    """Semi-supervised label propagation over the undirected pair
    graph (Zhu & Ghahramani 2002 shape, synchronous rounds): seed
    nodes carry known labels (provenance, quality tier, license); each
    round every non-seed node takes the MAJORITY label among its
    labeled neighbors — ties break on the lexicographically smallest
    label, seeds never change, nodes with no labeled neighbor keep
    their previous label (null until first touched). A fixed round
    count keeps the whole run replayable by chained CTEs (the
    pagerank/kmeans_fixed discipline).

    Shape per round: ONE edge-keyed join shipping current labels +
    one (node, label) groupBy + one per-node window argmax — all
    keyed by node id; edges are localCheckpoint-ed once so the
    upstream pair pipeline (minhash LSH) runs once, not once per
    round. `seeds` is (doc_id, label). Returns (doc_id, label,
    is_seed) for every node of the graph."""
    from fossil_spark.operators import fixed_rounds_guard

    fixed_rounds_guard("label_propagation", n_rounds, max_rounds)
    # INPUT-keyed session memo (r13): each round's lazy
    # localCheckpoint materializes under AQE at build time, so
    # graph_modularity re-paid the full 3-round propagation
    # graph_label_prop had just run (~2.6 s warm).
    slot = Slot(f"labelprop:{n_rounds}:{a_col}:{b_col}", pairs, seeds)
    hit = slot.get(
        lambda cached: cached.columns == ["doc_id", "label", "is_seed"])
    if hit is not None:
        return hit
    edges = _symmetric_edges(pairs, a_col, b_col).localCheckpoint(eager=False)
    from pyspark.sql import Window

    nodes = edges.select(F.col("src").alias("id")).distinct()
    s = seeds.select(
        F.col("doc_id").alias("id"), F.col("label").alias("__seed")
    )
    labels = nodes.join(F.broadcast(s), "id", "left").select(
        "id",
        F.col("__seed").alias("label"),
        F.col("__seed").isNotNull().alias("is_seed"),
    )
    w = Window.partitionBy("id").orderBy(F.col("__c").desc(), "label")
    for _ in range(n_rounds):
        msgs = (
            edges.join(
                labels.filter(F.col("label").isNotNull()).select(
                    F.col("id").alias("dst"), "label"
                ),
                "dst",
            )
            .select(F.col("src").alias("id"), "label")
        )
        counts = msgs.groupBy("id", "label").agg(F.count(F.lit(1)).alias("__c"))
        top = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", F.col("label").alias("__new"))
        )
        labels = (
            labels.join(top, "id", "left")
            .select(
                "id",
                F.when(F.col("is_seed"), F.col("label"))
                .otherwise(F.coalesce(F.col("__new"), F.col("label")))
                .alias("label"),
                "is_seed",
            )
            .localCheckpoint(eager=False)
        )
    return slot.put(
        labels.select(F.col("id").alias("doc_id"), "label", "is_seed"))


def kcore(
    pairs: DataFrame,
    k: int = 2,
    n_rounds: int = 8,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 12,
) -> DataFrame:
    """k-core of the undirected pair graph (Seidman 1983, Social
    Networks — public classic): iteratively peel nodes with degree
    < k until every survivor has >= k neighbors INSIDE the surviving
    set. The k-core separates structurally dense template/boilerplate
    families from nodes that merely touch one (a high raw [[graph_degree]]
    can be one hub; membership in the 3-core cannot).

    A FIXED `n_rounds` synchronous peels keep the whole run replayable
    by chained CTEs (the pagerank/label_prop discipline); peeling is
    monotone, so extra rounds after convergence are no-ops and both
    engines agree whether or not the fixpoint was reached. Shape per
    round: one degree groupBy + two semi-joins keyed by node id;
    edges localCheckpoint once (the upstream LSH pipeline runs once),
    and each round materializes its checkpoint with ONE count action
    whose value doubles as the fixpoint test: peeling only ever
    shrinks the edge set, so an unchanged count PROVES every later
    round is a no-op and the loop exits early — bitwise the same
    result (the oracle runs all rounds; no-op rounds are identity),
    but a converged graph pays 1 round, not n_rounds×3 shuffles of
    the full edge list (the 100x canary graph converges at round 1:
    every clique member keeps degree ≥ 99 ≥ k). Returns surviving
    nodes: (doc_id, core_degree)."""
    from fossil_spark.operators import fixed_rounds_guard

    fixed_rounds_guard("kcore", n_rounds, max_rounds)
    edges = _symmetric_edges(pairs, a_col, b_col).localCheckpoint(eager=False)
    prev = edges.count()  # materializes the base checkpoint
    for _ in range(n_rounds):
        if prev == 0:
            break
        good = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= k)
            .select("src")
        )
        edges = (
            edges.join(good, "src")
            .join(good.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        n = edges.count()  # one action per round (the pagerank budget)
        if n == prev:
            break
        prev = n
    return (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def jaccard_similarity(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Neighbor-set Jaccard for every node pair sharing >= `min_common`
    neighbors in the undirected pair graph (the SimRank-lite link
    predictor): J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|. On a near-dup
    graph, high-J non-adjacent pairs are documents duplicating the
    same family through different edges — the transitive-miss audit
    for [[dedup_components]].

    Shape: candidate pairs come from ONE wedge self-join at the
    shared neighbor (bounded by sum of neighbor-degree², the
    graph_triangles budget — LSH graphs are sparse), degrees broadcast
    back; all counts integer, J rounds @6. Returns (node_a, node_b,
    n_common, n_union, jaccard, is_edge) for node_a < node_b.

    `max_center_degree` is the top-d wedge truncation for hub-heavy
    graphs (the standard hub-removal trick of MapReduce similarity
    joins, cf. MMDS ch.3): nodes with degree > d are excluded as
    WEDGE CENTERS, bounding the pair space by |centers| * C(d, 2)
    instead of sum(deg^2) — one hub of degree h otherwise emits
    C(h, 2) wedges and a single 10^5-degree hub is a 5e9-row join.
    Recall note: a candidate pair whose ONLY shared neighbors are
    hubs is missed entirely, and n_common omits hub centers (so
    reported J is a lower bound for hub-adjacent pairs; n_union
    still uses FULL degrees). On near-dup graphs hubs are template
    families whose membership [[graph_kcore]]/[[dedup_components]]
    already report — the specific signal J adds (shared *rare*
    neighbors) survives truncation.

    The truncation is SELF-DESCRIBING in the output (r12 verdict
    #5): `n_hub_common` counts, per surviving pair, the shared
    neighbors the cap excluded as wedge centers — 0 everywhere when
    the cap is off or doesn't bind, and n_common + n_hub_common is
    the exact common-neighbor count when it does. Computed WITHOUT
    hub wedges: each node's hub-neighbor set (linear in edges — one
    entry per node-hub edge) is intersected per pair, so one degree-h
    hub costs h array entries, never C(h, 2) rows."""
    edges = _symmetric_edges(pairs, a_col, b_col).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    wedge_src = edges
    if max_center_degree is not None:
        ok = deg.filter(
            F.col("__deg") <= int(max_center_degree)
        ).select("src")
        wedge_src = edges.join(ok, "src", "left_semi")
    e1 = wedge_src.select(F.col("src").alias("__n"), F.col("dst").alias("__a"))
    e2 = wedge_src.select(F.col("src").alias("__n"), F.col("dst").alias("__b"))
    common = (
        e1.join(e2, "__n")
        .filter(F.col("__a") < F.col("__b"))
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("src").alias("__a"), F.col("__deg").alias("__da"))
    db = deg.select(F.col("src").alias("__b"), F.col("__deg").alias("__db"))
    adj = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("__a"), F.col("dst").alias("__b"),
        F.lit(True).alias("__adj"),
    )
    j = (
        common.join(broadcast(da), "__a")
        .join(broadcast(db), "__b")
        .join(adj, ["__a", "__b"], "left")
    )
    if max_center_degree is not None:
        # per-node hub-neighbor sets (one row per node adjacent to a
        # hub, array bounded by that node's own degree); the pairwise
        # intersect size is exactly the count of capped wedge centers
        # the pair shares — order-independent, no hub wedge expansion
        hubs = deg.filter(F.col("__deg") > int(max_center_degree))
        hub_adj = (
            edges.join(
                hubs.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .groupBy("src")
            .agg(F.collect_set("dst").alias("__hn"))
        )
        j = j.join(
            hub_adj.select(
                F.col("src").alias("__a"), F.col("__hn").alias("__hna")
            ),
            "__a",
            "left",
        ).join(
            hub_adj.select(
                F.col("src").alias("__b"), F.col("__hn").alias("__hnb")
            ),
            "__b",
            "left",
        )
        hub_common = F.when(
            F.col("__hna").isNull() | F.col("__hnb").isNull(), F.lit(0)
        ).otherwise(F.size(F.array_intersect("__hna", "__hnb")))
    else:
        hub_common = F.lit(0)
    union = F.col("__da") + F.col("__db") - F.col("n_common")
    return j.select(
        F.col("__a").alias("node_a"),
        F.col("__b").alias("node_b"),
        F.col("n_common").cast("long").alias("n_common"),
        union.cast("long").alias("n_union"),
        F.round(
            F.col("n_common").cast("double") / union.cast("double"), 6
        ).alias("jaccard"),
        F.coalesce(F.col("__adj"), F.lit(False)).alias("is_edge"),
        hub_common.cast("long").alias("n_hub_common"),
    )


def adamic_adar(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link-prediction index over the undirected pair
    graph (Adamic & Adar 2003, Social Networks — the classic
    common-neighbor predictor): AA(a,b) = Σ_{z ∈ N(a)∩N(b)}
    1 / ln(deg(z)). Where [[jaccard_similarity]] treats every shared
    neighbor equally, AA discounts each by the log of its degree —
    a shared RARE neighbor is strong evidence the endpoints belong
    together, a shared hub is nearly none. On a near-dup graph,
    high-AA non-adjacent pairs are the transitive-miss candidates
    ranked by how *specific* their shared duplication is.

    Spark shape: the [[jaccard_similarity]] wedge self-join at the
    shared neighbor with the center's degree attached pre-wedge, so
    each wedge row carries its own 1/ln(deg) term; per-pair sum is
    decimal-quantized @8 pre-sum (order-independent) and reported at
    the quantizer's own 8-decimal scale (no re-round — a second
    rounding of the decimal-valued double would reopen the half-up/
    half-even boundary the quantizer closed).
    Every wedge center has degree >= 2 (it touches both endpoints),
    so ln(deg) >= ln 2 and the term is always finite.

    `max_center_degree` is the same hub truncation as
    [[jaccard_similarity]] — and it suits AA even better: the terms
    the cap drops (1/ln(h) for hub h) are precisely the SMALLEST
    contributions, so capped AA scores under-count by at most
    |hubs_shared| / ln(cap+1) — the discount the estimator itself
    says barely matters. n_hub_common makes the drop self-describing
    per pair, exactly as in [[jaccard_similarity]].

    Returns (node_a, node_b, n_common, aa_score, is_edge,
    n_hub_common) for node_a < node_b, pairs sharing >= `min_common`
    non-hub neighbors."""
    edges = _symmetric_edges(pairs, a_col, b_col).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # degree-1 nodes form no wedge but their e1 row still evaluates
    # the term projection — without this filter 1/ln(1) raises under
    # ANSI (intermittently, depending on where Catalyst places the
    # projection); try_divide is the second line of defense
    wedge_src = edges.join(deg, "src").filter(F.col("__deg") >= 2)
    if max_center_degree is not None:
        wedge_src = wedge_src.filter(
            F.col("__deg") <= int(max_center_degree)
        )
    term = F.round(
        F.try_divide(F.lit(1.0), F.log(F.col("__deg").cast("double"))), 8
    ).cast("decimal(30,8)")
    e1 = wedge_src.select(
        F.col("src").alias("__n"), F.col("dst").alias("__a"),
        term.alias("__t"),
    )
    e2 = wedge_src.select(
        F.col("src").alias("__n"), F.col("dst").alias("__b")
    )
    common = (
        e1.join(e2, "__n")
        .filter(F.col("__a") < F.col("__b"))
        .groupBy("__a", "__b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("__t").alias("__aa"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    adj = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("__a"), F.col("dst").alias("__b"),
        F.lit(True).alias("__adj"),
    )
    j = common.join(adj, ["__a", "__b"], "left")
    if max_center_degree is not None:
        hubs = deg.filter(F.col("__deg") > int(max_center_degree))
        hub_adj = (
            edges.join(
                hubs.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .groupBy("src")
            .agg(F.collect_set("dst").alias("__hn"))
        )
        j = j.join(
            hub_adj.select(
                F.col("src").alias("__a"), F.col("__hn").alias("__hna")
            ),
            "__a",
            "left",
        ).join(
            hub_adj.select(
                F.col("src").alias("__b"), F.col("__hn").alias("__hnb")
            ),
            "__b",
            "left",
        )
        hub_common = F.when(
            F.col("__hna").isNull() | F.col("__hnb").isNull(), F.lit(0)
        ).otherwise(F.size(F.array_intersect("__hna", "__hnb")))
    else:
        hub_common = F.lit(0)
    return j.select(
        F.col("__a").alias("node_a"),
        F.col("__b").alias("node_b"),
        F.col("n_common").cast("long").alias("n_common"),
        F.col("__aa").cast("double").alias("aa_score"),
        F.coalesce(F.col("__adj"), F.lit(False)).alias("is_edge"),
        hub_common.cast("long").alias("n_hub_common"),
    )


def assortativity(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Degree assortativity of the undirected pair graph (Newman
    2002): the Pearson correlation of the endpoint degrees over the
    directed edge list (each undirected edge counted once per
    direction, the standard convention). r > 0 means hubs attach to
    hubs — on a near-dup graph that separates a few giant template
    families (assortative cores) from hub-and-spoke boilerplate
    (strongly disassortative, one canonical doc linked to many
    one-off variants), which changes the right dedup action (drop
    the family vs keep the canonical). Complements [[graph_kcore]]
    (who is in a dense core) with a one-number summary of how the
    cores wire.

    Shape: degrees via one exploded-endpoint groupBy, joined back to
    both endpoints of the edge list (degree table keyed by node —
    broadcast-sized relative to edges at any scale where this graph
    is computable), then a single moment aggregate. Every moment is
    an exact integer accumulated in decimal(38,0) — no doubles until
    the final fixed-order correlation, so both engines agree
    bitwise. Returns one row (n_nodes, n_edges_directed,
    assortativity); assortativity is NULL for a degree-regular graph
    (zero variance, e.g. a perfect matching)."""
    ed = _symmetric_edges(pairs, a_col, b_col)
    deg = ed.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("dg")
    )
    e2 = (
        ed.join(deg.select(F.col("src").alias("src"),
                           F.col("dg").alias("__dx")), "src")
        .join(deg.select(F.col("src").alias("dst"),
                         F.col("dg").alias("__dy")), "dst")
    )

    def isum(e):
        return F.sum(e.cast("decimal(38,0)"))

    m = e2.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges_directed"),
        isum(F.col("__dx")).alias("__sx"),
        isum(F.col("__dy")).alias("__sy"),
        isum(F.col("__dx").cast("decimal(19,0)")
             * F.col("__dy").cast("decimal(19,0)")).alias("__sxy"),
        isum(F.col("__dx").cast("decimal(19,0)")
             * F.col("__dx").cast("decimal(19,0)")).alias("__sxx"),
        isum(F.col("__dy").cast("decimal(19,0)")
             * F.col("__dy").cast("decimal(19,0)")).alias("__syy"),
    ).crossJoin(
        broadcast(deg.agg(F.count(F.lit(1)).cast("long")
                          .alias("n_nodes")))
    )
    n = F.col("n_edges_directed").cast("decimal(38,0)")
    num = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    dx = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    dy = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(
        "double"
    )
    r = F.when(
        (dx > 0) & (dy > 0), num / F.sqrt(dx * dy)
    )
    return m.select(
        "n_nodes", "n_edges_directed",
        F.round(r, 6).alias("assortativity"),
    )


def modularity(
    pairs: DataFrame,
    labels: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a node partition over the undirected pair
    graph (Newman & Girvan 2004): per community c, Q_c = e_c/m -
    (d_c/m)^2 with e_c the directed within-community edge count, d_c
    the community degree sum, m the directed edge total; Q = sum Q_c.
    THE did-the-communities-mean-anything number for
    [[graph_label_prop]]'s output: Q near 0 means the propagated
    labels cut the near-dup graph no better than chance; Q > 0.3 is
    real structure worth acting on. Unlabeled nodes keep their edges
    in m but earn no community credit — so spreading labels to more
    of the graph can only raise Q by actually explaining edges.

    Shape: one labels join onto each edge endpoint, one per-label
    aggregate, a 1-row broadcast of m. All counts exact integers;
    each Q_c is a fixed-order double, the total an @8-quantized
    decimal sum. Returns one row per community: (label, n_nodes,
    in_edges_directed, degree_sum, q_contrib, modularity) with the
    partition total repeated for convenience."""
    # localCheckpoint: ed feeds both the per-edge label join and the
    # 1-row total -- without the cut the upstream pair pipeline
    # (minhash LSH) re-runs once per branch (the pagerank convention)
    ed = _symmetric_edges(pairs, a_col, b_col).localCheckpoint(
        eager=False
    )
    la = labels.select(
        F.col(id_col).alias("src"), F.col(label_col).alias("__la")
    )
    lb = labels.select(
        F.col(id_col).alias("dst"), F.col(label_col).alias("__lb")
    )
    le = ed.join(la, "src").join(lb, "dst")
    tot = ed.agg(F.count(F.lit(1)).cast("long").alias("__m"))
    cm = le.filter(F.col("__la").isNotNull()).groupBy(
        F.col("__la").alias("label")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("degree_sum"),
        F.sum(F.when(F.col("__lb") == F.col("__la"), 1).otherwise(0))
        .cast("long").alias("in_edges_directed"),
    )
    nn = labels.filter(F.col(label_col).isNotNull()).groupBy(
        F.col(label_col).alias("label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    md = F.col("__m").cast("double")
    staged = cm.join(nn, "label").crossJoin(F.broadcast(tot)).select(
        "label", "n_nodes", "in_edges_directed", "degree_sum",
        F.round(
            F.col("in_edges_directed").cast("double") / md
            - (F.col("degree_sum").cast("double") / md)
            * (F.col("degree_sum").cast("double") / md), 8,
        ).alias("q_contrib"),
    )
    total = staged.agg(
        F.round(
            F.sum(F.round(F.col("q_contrib"), 8).cast("decimal(30,8)")),
            8,
        ).cast("double").alias("__q")
    )
    return staged.crossJoin(F.broadcast(total)).select(
        "label", "n_nodes", "in_edges_directed", "degree_sum",
        "q_contrib",
        F.round("__q", 6).alias("modularity"),
    )


def powerlaw_fit(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    d_min: int = 1,
) -> DataFrame:
    """Power-law exponent of the degree distribution (Clauset,
    Shalizi & Newman 2009 discrete MLE): alpha = 1 + n /
    sum ln(d / (d_min - 1/2)) over nodes with degree >= d_min, with
    its asymptotic standard error (alpha - 1)/sqrt(n). On a near-dup
    graph the exponent is the template-economy summary: alpha near 2
    means a few giant boilerplate hubs dominate (scale-free,
    dedup the hubs first), steep alpha > 3 means duplication is
    shallow and local. Reports max degree and the degree mean next
    to alpha so a reader can sanity-check the fit range.

    One exploded-endpoint degree groupBy + one aggregate; the only
    transcendental is ln(d / (d_min - 0.5)) per NODE (not per edge),
    @8-quantized decimal sum. Returns one row (n_nodes, d_min,
    max_degree, mean_degree, alpha, alpha_se)."""
    deg = (
        _symmetric_edges(pairs, a_col, b_col)
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("__d"))
        .filter(F.col("__d") >= int(d_min))
    )
    lnterm = F.log(
        F.col("__d").cast("double") / F.lit(d_min - 0.5)
    )
    g = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("__d").cast("long").alias("max_degree"),
        F.sum(F.col("__d").cast("decimal(38,0)")).alias("__sd"),
        F.round(F.sum(F.round(lnterm, 8).cast("decimal(30,8)")), 8)
        .cast("double").alias("__sln"),
    )
    nd = F.col("n_nodes").cast("double")
    alpha = F.lit(1.0) + F.try_divide(nd, F.col("__sln"))
    return g.select(
        "n_nodes",
        F.lit(int(d_min)).alias("d_min"),
        "max_degree",
        F.round(F.col("__sd").cast("double") / nd, 6)
        .alias("mean_degree"),
        F.round(alpha, 6).alias("alpha"),
        F.round(F.try_divide(alpha - F.lit(1.0), F.sqrt(nd)), 6)
        .alias("alpha_se"),
    )


def two_hop_reach(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_center_degree: int | None = None,
) -> DataFrame:
    """2-hop reach per node of the undirected pair graph: how many
    DISTINCT other nodes sit within two hops (direct neighbors plus
    neighbors-of-neighbors). On a near-dup graph the amplification
    reach/degree separates chain-like duplication (reach ~ 2·degree:
    each neighbor adds fresh nodes) from closed template families
    (reach ~ degree: the neighborhood is already a clique) — the
    neighborhood-shape companion to [[graph_kcore]]'s density and
    [[graph_jaccard]]'s pairwise overlap.

    Shape: ONE wedge self-join at the shared neighbor (the
    [[graph_jaccard]] budget, sum of center-degree² — and the same
    `max_center_degree` top-d truncation applies for hub-heavy
    graphs, with the same recall note: distance-2 nodes reachable
    ONLY through a truncated hub are not counted), unioned with the
    direct edges, one distinct + one count per node. All integer;
    amplification rounds @6.

    Truncation is SELF-DESCRIBING in the output (r12 verdict #5):
    `n_hub_neighbors` counts each node's direct neighbors the cap
    excluded as wedge centers — 0 everywhere when the cap is off or
    doesn't bind; > 0 flags rows whose reach_2hop may undercount
    (their 2-hop frontier behind those hubs was not expanded). One
    semi-join + count, linear in edges.

    Returns (doc_id, degree, reach_2hop, amplification,
    n_hub_neighbors)."""
    edges = _symmetric_edges(pairs, a_col, b_col).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    wedge_src = edges
    if max_center_degree is not None:
        ok = deg.filter(
            F.col("degree") <= int(max_center_degree)
        ).select("src")
        wedge_src = edges.join(ok, "src", "left_semi")
    e1 = wedge_src.select(F.col("src").alias("__n"), F.col("dst").alias("__a"))
    e2 = wedge_src.select(F.col("src").alias("__n"), F.col("dst").alias("__b"))
    hop2 = (
        e1.join(e2, "__n")
        .filter(F.col("__a") != F.col("__b"))
        .select("__a", "__b")
    )
    reach = (
        edges.select(F.col("src").alias("__a"), F.col("dst").alias("__b"))
        .unionByName(hop2)
        .distinct()
        .groupBy(F.col("__a").alias("src"))
        .agg(F.count(F.lit(1)).cast("long").alias("reach_2hop"))
    )
    out = deg.join(reach, "src")
    if max_center_degree is not None:
        hubs = deg.filter(F.col("degree") > int(max_center_degree))
        hub_n = (
            edges.join(
                hubs.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("__nhub"))
        )
        out = out.join(hub_n, "src", "left")
        n_hub = F.coalesce(F.col("__nhub"), F.lit(0).cast("long"))
    else:
        n_hub = F.lit(0).cast("long")
    return out.select(
        F.col("src").alias("doc_id"),
        "degree",
        "reach_2hop",
        F.round(
            F.col("reach_2hop").cast("double")
            / F.col("degree").cast("double"),
            6,
        ).alias("amplification"),
        n_hub.alias("n_hub_neighbors"),
    )
