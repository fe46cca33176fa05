"""LLM-data-pipeline operators vs DuckDB / invariants."""

import contextlib
import io

import duckdb
import pytest
from pyspark.sql import functions as F

from fossil_spark.operators import ann, dedup, multimodal, text
from fossil_spark.session import read_table

SF = "/root/testdata/sf0.001"


def ddb(sql: str):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con.execute(sql).fetchall()


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF, "embeddings")


def test_exact_dedup(spark, docs):
    # inject real duplicates to prove grouping
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    out = dedup.exact_dedup(docs.unionByName(dup)).collect()
    n_groups = len(out)
    n_dup_groups = sum(1 for r in out if r["n_dups"] > 1)
    (want_distinct,) = ddb(
        "SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))"
        " FROM documents"
    )[0]
    assert n_groups == want_distinct
    assert n_dup_groups == 5
    # keeper is the minimum id
    for r in out:
        if r["n_dups"] > 1:
            assert r["keep_id"] < 100000


def test_token_count(docs):
    got = {r["doc_id"]: (r["n_tokens"], r["n_subword_est"]) for r in
           text.token_count(docs).collect()}
    want = ddb(
        "SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')),"
        " list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),"
        " x -> (len(x)+3)//4)) FROM documents"
    )
    for did, n, sub in want:
        assert got[did] == (n, sub)


def test_quality_score(docs):
    got = {r["doc_id"]: r for r in text.quality_score(docs).collect()}
    sw = "['the','a','and','of','to','in','is','that','it','for']"
    want = ddb(
        f"SELECT doc_id, len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
        f" x -> list_contains({sw}, x))) * 1.0"
        f" / len(regexp_split_to_array(trim(text), '\\s+')) FROM documents"
    )
    for did, stop_ratio in want:
        assert got[did]["stopword_ratio"] == stop_ratio
        assert 0.0 <= got[did]["quality"] <= 1.0


def test_lang_id(docs):
    out = text.lang_id(docs).collect()
    assert all(r["pred_lang"] in ("en", "de", "fr", "es", "other") for r in out)
    # deterministic across runs
    out2 = text.lang_id(docs).collect()
    assert {r["doc_id"]: r["pred_lang"] for r in out} == {
        r["doc_id"]: r["pred_lang"] for r in out2
    }


def test_fingerprint(docs):
    got = {r["doc_id"]: (r["fingerprint"], r["n_shingles"]) for r in
           text.fingerprint(docs).collect()}
    want = ddb(
        "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w FROM documents)"
        " SELECT doc_id, list_min(list_transform(sh, x -> md5(x))), len(sh) FROM ("
        " SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN"
        " list_transform(generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' '))"
        " ELSE [array_to_string(w, ' ')] END) sh FROM t)"
    )
    for did, fp, n in want:
        assert got[did] == (fp, n)


def test_minhash_lsh_finds_near_dups(spark, docs):
    # append a near-duplicate (one word changed) of each of 3 docs
    base = docs.limit(3).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(base)
    pairs = dedup.minhash_lsh_pairs(both).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    for did in [r["doc_id"] for r in docs.limit(3).collect()]:
        assert (did, did + 200000) in found


def test_minhash_hot_bucket_streams(spark):
    """A degenerate boilerplate bucket (every doc identical) must emit
    all C(n,2) pairs through the streaming posexplode+slice shape — the
    largest single array value stays O(n), and the plan reads the
    source exactly once (the earlier two-branch guard re-executed the
    whole signature pipeline per branch)."""
    n = 60
    hot = spark.createDataFrame(
        [(i, "the same boilerplate text repeated for every single doc")
         for i in range(n)],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(hot)
    assert pairs.count() == n * (n - 1) // 2
    # single-branch guard on the ANALYZED logical plan: the source
    # relation must appear exactly once (the earlier two-branch shape
    # carried the whole signature pipeline per branch). The executed
    # plan is no longer a valid probe — the r13 matrix/pair session
    # memos nest cached-plan dumps, so textual scan counts over it
    # double-count without any re-execution.
    logical = pairs._jdf.queryExecution().analyzed().toString()
    n_src = logical.count("LogicalRDD") + logical.count("LocalRelation")
    assert n_src == 1


def test_ngram_jaccard(spark, docs):
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)], "doc_a long, doc_b long"
    )
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           dedup.ngram_jaccard_pairs(docs, cand).collect()}
    want = ddb(
        "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w FROM documents),"
        " sh AS (SELECT doc_id, unnest(list_distinct("
        "  list_transform(generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' '))))"
        "  AS shingle FROM t WHERE len(w) >= 3),"
        " c AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1)"
        " SELECT a.doc_id, b.doc_id, count(*) * 1.0 / (ca.n + cb.n - count(*))"
        " FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id"
        " JOIN c ca ON ca.doc_id = a.doc_id JOIN c cb ON cb.doc_id = b.doc_id"
        " WHERE (a.doc_id, b.doc_id) IN ((0,1),(0,2),(1,2)) GROUP BY 1,2,ca.n,cb.n"
    )
    for (a, b, j) in want:
        assert got[(a, b)] == j


def test_connected_components_long_chain(spark):
    # a 60-node path needs 59 label-propagation rounds, past the
    # max_iter=25 default: the rounds raise, the driver path is exact
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc_a long, doc_b long"
    )
    got = dedup.connected_components(pairs).collect()
    assert len(got) == 60 and {r["component"] for r in got} == {0}


@contextlib.contextmanager
def _broadcast_threshold(spark, value):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_connected_components_fails_loudly_past_max_iter(spark):
    # label 0 needs 29 rounds to cross a 30-node path: a cap below
    # that raises instead of returning the path split in pieces
    # (threshold -1 forces the rounds; the driver path has no cap)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    with _broadcast_threshold(spark, "-1"):
        with pytest.raises(RuntimeError, match="max_iter=25"):
            dedup.connected_components(pairs, max_iter=25)
        got = dedup.connected_components(pairs, max_iter=32).collect()
    assert len(got) == 30 and {r["component"] for r in got} == {0}


@pytest.mark.parametrize("rows, ddl, want", [
    # two triangles + an isolated edge
    ([(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (20, 21)],
     "doc_a long, doc_b long",
     {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (20, 20),
      (21, 20)}),
    # a null endpoint is its own row and connects nothing
    ([(1, None), (2, 3), (None, 3)], "doc_a long, doc_b long",
     {(1, 1), (2, 2), (3, 2), (None, None)}),
    # self-loop, duplicate pair, reversed pair
    ([(5, 5), (6, 7), (6, 7), (7, 6), (8, 7)], "doc_a long, doc_b long",
     {(5, 5), (6, 6), (7, 6), (8, 6)}),
    ([(3, 2), (2, 1), (9, 8)], "doc_a int, doc_b int",
     {(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)}),
    ([(3, 2), (2, 1 << 40)], "doc_a int, doc_b long",
     {(2, 2), (3, 2), (1 << 40, 2)}),
    ([], "doc_a long, doc_b long", set()),
], ids=["triangles", "nulls", "loop_dup_reversed", "int32", "int_long", "empty"])
def test_connected_components_driver_and_rounds_agree(spark, rows, ddl, want):
    # default threshold: union-find on the driver; -1: the Spark rounds
    pairs = spark.createDataFrame(rows, ddl)
    driver = dedup.connected_components(pairs)
    with _broadcast_threshold(spark, "-1"):
        rounds = dedup.connected_components(pairs)
        rounds_rows = rounds.collect()
    driver_rows = driver.collect()
    assert sorted(map(tuple, driver_rows), key=str) == sorted(
        map(tuple, rounds_rows), key=str)
    assert set(map(tuple, driver_rows)) == want
    assert len(driver_rows) == len(want)
    assert driver.schema == rounds.schema
    id_type = "bigint" if "long" in ddl else "int"
    assert [f.dataType.simpleString() for f in driver.schema] == [id_type] * 2
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        driver.explain()
    assert "LocalTableScan" in buf.getvalue()


def test_hash_split_deterministic_and_partitioned(docs):
    out1 = {r["doc_id"]: (r["bucket"], r["split"]) for r in
            text.hash_split(docs).collect()}
    out2 = {r["doc_id"]: (r["bucket"], r["split"]) for r in
            text.hash_split(docs).collect()}
    assert out1 == out2
    splits = [s for _, s in out1.values()]
    assert 0.6 < splits.count("train") / len(splits) < 0.95
    assert set(splits) <= {"train", "val", "test"}


def test_simhash_near_dup_property(spark, docs):
    out = dedup.simhash(docs).collect()
    sims = {r["doc_id"]: r["simhash"] for r in out}
    assert all(0 <= s < (1 << 16) for s in sims.values())
    # near-identical doc hashes to small hamming distance
    d0 = docs.filter("doc_id = 0")
    tweaked = d0.select(
        F.lit(999999).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tweak")).alias("text"),
    )
    pair = dedup.simhash(d0.select("doc_id", "text").unionByName(tweaked)).collect()
    h = {r["doc_id"]: r["simhash"] for r in pair}
    hamming = bin(h[0] ^ h[999999]).count("1")
    assert hamming <= 4


def test_cosine_topk(emb):
    queries = emb.filter("vec_id < 3")
    out = ann.cosine_topk(emb, queries, k=5).collect()
    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["cos_sim"]) for r in out}
    want = ddb(
        "SELECT q.vec_id, c.vec_id,"
        " round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),"
        " CAST(c.embedding AS DOUBLE[])), 6) AS cs"
        " FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id"
        " WHERE q.vec_id < 3 QUALIFY row_number() OVER"
        " (PARTITION BY q.vec_id ORDER BY cs DESC, c.vec_id) <= 5"
    )
    assert len(got) == len(want)
    ranks: dict[int, int] = {}
    for qid, vid, cs in want:
        ranks[qid] = ranks.get(qid, 0) + 1
        assert got[(qid, ranks[qid])] == (vid, cs)


def test_ivf_ann_recall(emb):
    queries = emb.filter("vec_id < 10")
    exact = ann.cosine_topk(emb, queries, k=5).collect()
    approx = ann.ivf_ann(emb, queries, k=5, n_lists=16, n_probe=6).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3
    # determinism: same centroids, same result
    approx2 = ann.ivf_ann(emb, queries, k=5, n_lists=16, n_probe=6).collect()
    assert {(r["query_id"], r["vec_id"], r["cos_sim"]) for r in approx} == \
        {(r["query_id"], r["vec_id"], r["cos_sim"]) for r in approx2}


def test_embedding_neardup_pairs(emb):
    out = dedup.embedding_neardup_pairs(emb, threshold=0.25).collect()
    assert all(r["cos_sim"] >= 0.25 and r["vec_a"] < r["vec_b"] for r in out)


def test_lsh_ann_recall(emb):
    queries = emb.filter("vec_id < 10")
    exact = ann.cosine_topk(emb, queries, k=5).collect()
    approx = ann.lsh_ann(emb, queries, dim=64, k=5, planes=4, tables=8).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3  # random 64-dim vectors are a worst case for LSH
    # every approx hit must share the query's bucket -> correctness of bucketing
    assert all(r["rank"] <= 5 for r in approx)


def test_scrub_pii_redacts(spark):
    df = spark.createDataFrame(
        [(1, "mail me at bob@example.com or call +1 (555) 123-4567 "
             "from 192.168.1.1 via https://example.com/x?q=1 thanks")],
        "doc_id long, text string",
    )
    r = text.scrub_pii(df).collect()[0]
    assert (r["n_email"], r["n_phone"], r["n_ipv4"], r["n_url"]) == (1, 1, 1, 1)
    s = r["scrubbed"]
    assert "<EMAIL>" in s and "<PHONE>" in s and "<IPV4>" in s and "<URL>" in s
    assert "bob@example.com" not in s and "192.168.1.1" not in s


def test_repetition_score(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "all words here are unique tokens")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.repetition_score(df).collect()}
    # "spam spam" 2-gram appears 4 times out of 4 bigrams
    assert got[1]["repetition_ratio"] == 1.0
    assert got[2]["repetition_ratio"] == 1.0 / 5


def test_chunk_text(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string"
    )
    out = {r["chunk_idx"]: r for r in text.chunk_text(df, 4, overlap=1).collect()}
    assert out[0]["chunk"] == "t0 t1 t2 t3"
    assert out[1]["chunk"] == "t3 t4 t5 t6"  # one token of overlap
    assert out[2]["chunk"] == "t6 t7 t8 t9"
    # every token appears; chunk sizes bounded
    assert all(r["chunk_n_tokens"] <= 4 for r in out.values())


def test_chunk_text_short_doc(spark):
    df = spark.createDataFrame([(1, "only three tokens")], "doc_id long, text string")
    rows = text.chunk_text(df, 128).collect()
    assert len(rows) == 1 and rows[0]["chunk"] == "only three tokens"


def test_pack_documents(docs):
    out = text.pack_documents(docs, max_tokens=200, n_buckets=4).collect()
    assert len(out) == docs.count()  # every doc assigned exactly once
    by_pack: dict[str, int] = {}
    for r in out:
        by_pack[r["pack_id"]] = by_pack.get(r["pack_id"], 0) + min(r["n_tokens"], 200)
    assert all(total <= 200 for total in by_pack.values())
    # determinism
    out2 = text.pack_documents(docs, max_tokens=200, n_buckets=4).collect()
    assert {(r["doc_id"], r["pack_id"]) for r in out} == \
        {(r["doc_id"], r["pack_id"]) for r in out2}
    # packing is reasonably tight: average fill over 50%
    fill = sum(by_pack.values()) / (len(by_pack) * 200)
    assert fill > 0.5


def test_multimodal_plumbing(spark, docs):
    binary = docs.select("doc_id", F.encode("text", "utf-8").alias("content"))
    meta = multimodal.decode_image_meta(binary).collect()
    assert len(meta) == docs.count()
    assert all(r["width"] >= 1 and r["height"] >= 1 for r in meta)
    assert all(r["mode"] in ("RGB", "L") for r in meta)
    # deterministic: same input -> same fake header
    meta2 = multimodal.decode_image_meta(binary).collect()
    assert sorted(map(tuple, meta)) == sorted(map(tuple, meta2))

    resized = multimodal.resize_stub(binary, 128).collect()
    for r in resized:
        assert max(r["target_width"], r["target_height"]) <= 128

    frames = multimodal.frame_sample_stub(binary, 2)
    assert frames.count() >= docs.count()


def test_curate_corpus_pipeline(spark, docs):
    from fossil_spark.pipelines import curate_corpus

    out = curate_corpus(docs).collect()
    assert len(out) > 0
    for r in out:
        assert r["chunk_n_tokens"] <= 64
        assert r["quality"] >= 0.45
        assert r["pred_lang"] == "en"
    # deduplicated: curated doc ids are unique per chunk_idx
    seen = {(r["doc_id"], r["chunk_idx"]) for r in out}
    assert len(seen) == len(out)


def test_semantic_dedup_pipeline(spark):
    from fossil_spark.pipelines import semantic_dedup
    from fossil_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = semantic_dedup(emb).collect()
    assert len(out) == emb.count()  # every vector mapped
    by_id = {r["vec_id"]: r for r in out}
    for r in out:
        # keeper is minimal and self-kept
        assert r["keep_id"] <= r["vec_id"]
        assert by_id[r["keep_id"]]["is_kept"]
        assert r["is_kept"] == (r["keep_id"] == r["vec_id"])
    assert any(not r["is_kept"] for r in out)  # some dups exist at sf0.001

def test_pack_documents_exact_assignment(spark):
    """Pin the exact first-fit-decreasing assignment for a fixed input
    (ADVICE r3: the driver oracle checks invariants only, so the actual
    assignment needs a unit pin). One bucket; token counts 7,5,4,3,2,1
    with capacity 10 must pack as {a,d}, {b,c,f}, {e}."""
    rows = [
        (1, "w " * 7), (2, "w " * 5), (3, "w " * 4),
        (4, "w " * 3), (5, "w " * 2), (6, "w"),
    ]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["pack_id"]
           for r in text.pack_documents(df, max_tokens=10, n_buckets=1).collect()}
    # FFD walk: 7->new p0(rem 3); 5->new p1(rem 5); 4->p1(rem 1);
    # 3->p0(rem 0); 2->new p2(rem 8); 1->p1(rem 0)
    assert out == {
        1: "0-0", 4: "0-0",
        2: "0-1", 3: "0-1", 6: "0-1",
        5: "0-2",
    }

def test_stratified_sample_determinism_and_rates(docs):
    out1 = text.stratified_sample(docs, {"en": 0.5}, "lang", default_fraction=1.0)
    out2 = text.stratified_sample(docs, {"en": 0.5}, "lang", default_fraction=1.0)
    ids1 = {r["doc_id"] for r in out1.select("doc_id").collect()}
    assert ids1 == {r["doc_id"] for r in out2.select("doc_id").collect()}
    by_lang_in = {r["lang"]: r["n"] for r in
                  docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    by_lang_out = {r["lang"]: r["n"] for r in
                   out1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # non-en kept wholesale; en roughly halved (hash-binomial)
    for lang, n in by_lang_in.items():
        if lang != "en":
            assert by_lang_out[lang] == n
    assert 0.3 * by_lang_in["en"] < by_lang_out["en"] < 0.7 * by_lang_in["en"]


def test_group_split_no_leakage(docs):
    out = text.group_split(docs.select("doc_id", "source"), "source")
    per_group = out.groupBy("source").agg(
        F.countDistinct("split").alias("n_splits")
    ).collect()
    assert all(r["n_splits"] == 1 for r in per_group)  # a group never straddles


def test_quality_deciles_balanced(docs):
    out = text.quality_deciles(docs)
    sizes = {r["decile"]: r["n"] for r in
             out.groupBy("decile").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == set(range(1, 11))
    assert max(sizes.values()) - min(sizes.values()) <= 1  # ntile balance

def test_quality_bins_approx_tracks_exact(docs):
    """The sketch path agrees with the exact deciles for nearly every
    doc at this scale (rel_err 1e-3 on 500 docs)."""
    exact = {r["doc_id"]: r["decile"] for r in text.quality_deciles(docs).collect()}
    approx = {r["doc_id"]: r["bin"] for r in text.quality_bins_approx(docs).collect()}
    assert set(approx.values()) <= set(range(1, 11))
    off = sum(1 for d in exact if abs(exact[d] - approx[d]) > 1)
    assert off / len(exact) < 0.02  # off by >1 bin for <2% of docs


# --- round-5 additions: contamination / BM25 / cross-dedup / k-means ------


def test_contamination_flags_shared_ngrams(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # shares a 4-gram
            (2, "one two three four five six"),           # disjoint
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "XX alpha beta gamma delta YY")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text.contamination_check(train, bench, n=4).collect()
    }
    assert 1 in out and 2 not in out
    assert out[1]["n_shared_ngrams"] == 1  # "alpha beta gamma delta"
    assert out[1]["n_bench_docs"] == 1


def test_bm25_rare_term_outranks_common(spark):
    # "rare" appears in 1 of 4 docs, "common" in all -> the rare-term
    # doc must outscore a common-only doc at equal tf and length
    rows = [
        (1, "rare common aaa bbb"),
        (2, "common xxx aaa bbb"),
        (3, "common yyy aaa bbb"),
        (4, "common zzz aaa bbb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["score"] for r in text.bm25(df, ["rare", "common"]).collect()}
    assert len(out) == 4  # every doc matches "common"
    assert out[1] > out[2] == out[3] == out[4]


def test_bm25_excludes_nonmatching(spark):
    df = spark.createDataFrame(
        [(1, "hit aaa"), (2, "bbb ccc")], "doc_id long, text string"
    )
    out = text.bm25(df, ["hit"]).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_cross_corpus_dedup_flags_overlap(spark):
    train = spark.createDataFrame(
        [(1, "Shared   Text here"), (3, "unique text")],
        "doc_id long, text string",
    )
    held = spark.createDataFrame(
        [(2, "shared text HERE")],  # same after normalization
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["in_heldout"]
           for r in dedup.cross_corpus_dedup(train, held).collect()}
    assert out == {1: True, 3: False}


def test_kmeans_recovers_separable_clusters(spark):
    # two orthogonal directions, 6 points each with tiny jitter
    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0]))
        rows.append((10 + i, [0.0, 0.0, 1.0, 0.01 * i]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ann.kmeans_cluster(df, k=2, n_iter=3).collect()
    labels_a = {r["cluster"] for r in out if r["vec_id"] < 10}
    labels_b = {r["cluster"] for r in out if r["vec_id"] >= 10}
    assert len(labels_a) == 1 and len(labels_b) == 1
    assert labels_a != labels_b
    assert all(r["cos_sim"] > 0.99 for r in out)


def test_kmeans_deterministic(spark):
    emb = read_table(spark, SF, "embeddings")
    a = sorted((r["vec_id"], r["cluster"]) for r in ann.kmeans_cluster(emb, k=4, n_iter=2).collect())
    b = sorted((r["vec_id"], r["cluster"]) for r in ann.kmeans_cluster(emb, k=4, n_iter=2).collect())
    assert a == b


def test_anomaly_mad_finds_planted_outlier(spark):
    from fossil_spark.operators import timeseries as ts

    rows = [(i, "a", float(v)) for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 500])]
    rows += [(100 + i, "b", 5.0) for i in range(5)]  # mad=0 group: no rows
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = ts.anomaly_mad(df, by=["event_type"]).collect()
    assert [(r["event_id"], r["event_type"]) for r in out] == [(7, "a")]
    assert abs(out[0]["mod_zscore"]) > 3.5


def test_boilerplate_removal_blocks(spark):
    # 12 tokens -> blocks of 10 + 2; the first block repeats across
    # both docs (boilerplate), the tail differs
    head = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    d = spark.createDataFrame(
        [(1, head + " tail one"), (2, head + " other end"), (3, "totally different text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.boilerplate_removal(d).collect()}
    assert out[1]["n_units"] == 2 and out[1]["n_removed"] == 1
    assert out[1]["cleaned_text"] == "tail one"
    assert out[2]["cleaned_text"] == "other end"
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned_text"] == "totally different text"


def test_boilerplate_removal_lines(spark):
    d = spark.createDataFrame(
        [(1, "COOKIE BANNER\nreal content A"), (2, "COOKIE BANNER\nreal content B")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           text.boilerplate_removal(d, unit="line").collect()}
    assert out[1]["n_removed"] == 1 and out[1]["cleaned_text"] == "real content A"


def test_boilerplate_all_removed_yields_empty(spark):
    d = spark.createDataFrame(
        [(1, "same exact text"), (2, "same exact text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.boilerplate_removal(d).collect()}
    assert out[1]["cleaned_text"] == "" and out[1]["n_removed"] == 1


# --- Gopher quality rules ---------------------------------------------------

def test_gopher_quality_scores(spark):
    # doc 1: 4 distinct words, no repetition; doc 2: one word repeated
    d = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "spam spam spam spam spam")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.gopher_quality(d).collect()}
    assert out[1]["n_words"] == 4 and out[1]["dup_word_frac"] == 0.0
    assert out[1]["mean_word_len"] == pytest.approx(19 / 4)
    assert out[2]["dup_word_frac"] == pytest.approx(1 - 1 / 5)
    # every 2-gram of doc 2 is "spam spam": 4 occurrences * 8 chars / 20
    assert out[2]["top2_char_frac"] == pytest.approx(4 * 8 / 20)
    assert not out[2]["gopher_pass"]  # repetitive AND too short


def test_gopher_pass_thresholds(spark):
    good = " ".join(f"word{i}" for i in range(60))  # 60 distinct 5-6 char words
    d = spark.createDataFrame([(1, good)], "doc_id long, text string")
    row = text.gopher_quality(d).collect()[0]
    assert row["gopher_pass"]
    assert 3.0 <= row["mean_word_len"] <= 10.0


# --- deterministic top-k hash sample ---------------------------------------

def test_hash_topk_sample_deterministic(docs):
    a = text.hash_topk_sample(docs, k=50).collect()
    b = text.hash_topk_sample(docs.repartition(7), k=50).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    assert len(a) == 50
    # the kept keys are exactly the 50 smallest
    all_keys = sorted(
        r["sample_key"]
        for r in docs.select(
            F.md5(F.concat(F.lit("topk:"), F.col("doc_id").cast("string"))).alias(
                "sample_key"
            )
        ).collect()
    )
    assert sorted(r["sample_key"] for r in a) == all_keys[:50]


# --- paragraph (token-block) first-occurrence dedup -------------------------

def test_paragraph_dedup_keeps_first_occurrence(spark):
    head = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    d = spark.createDataFrame(
        [(1, head + " tail one"), (2, head + " other end")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(d).collect()}
    # doc 1 (smaller id) keeps the shared block; doc 2 loses it
    assert out[1]["n_cut"] == 0 and out[1]["cleaned_text"] == head + " tail one"
    assert out[2]["n_cut"] == 1 and out[2]["cleaned_text"] == "other end"


def test_paragraph_dedup_intra_doc(spark):
    # the same block twice inside ONE doc: second occurrence cut
    blk = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    d = spark.createDataFrame([(1, blk + " " + blk)], "doc_id long, text string")
    row = dedup.paragraph_dedup(d).collect()[0]
    assert row["n_units"] == 2 and row["n_cut"] == 1
    assert row["cleaned_text"] == blk


# --- unigram LM negative log-likelihood -------------------------------------

def test_unigram_nll_hand_computed(spark):
    import math

    # corpus: 6 tokens total; "a" x3, "b" x2, "c" x1
    d = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.unigram_nll(d).collect()}
    nll1 = -(2 * math.log(3 / 6) + math.log(2 / 6))
    nll2 = -(math.log(3 / 6) + math.log(2 / 6) + math.log(1 / 6))
    assert out[1]["n_tokens"] == 3
    assert out[1]["nll"] == pytest.approx(nll1, abs=2e-4)
    assert out[2]["nll"] == pytest.approx(nll2, abs=2e-4)
    assert out[2]["avg_nll"] > out[1]["avg_nll"]  # rarer tokens score higher


def test_unigram_nll_partitioning_invariant(docs):
    a = {r["doc_id"]: r["nll"] for r in text.unigram_nll(docs).collect()}
    b = {
        r["doc_id"]: r["nll"]
        for r in text.unigram_nll(docs.repartition(13)).collect()
    }
    assert a == b


# --- domain mixture balancing ----------------------------------------------

def test_domain_mixture_weights(spark):
    d = spark.createDataFrame(
        [(1, "a b c d", "web"), (2, "e f g h", "web"),
         (3, "i j k l", "code"), (4, "m n o p", "books")],
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r
        for r in text.domain_mixture(d, {"web": 0.25, "books": 0.9}).collect()
    }
    # web holds 1/2 of tokens, target 0.25 -> downsample to weight 0.5
    assert out["web"]["token_share"] == pytest.approx(0.5)
    assert out["web"]["sample_weight"] == pytest.approx(0.5)
    # books holds 1/4, target 0.9 -> cap at 1.0 (downsample-only)
    assert out["books"]["sample_weight"] == 1.0
    # code has no target -> weight 1
    assert out["code"]["sample_weight"] == 1.0
    assert out["code"]["n_docs"] == 1 and out["code"]["n_tokens"] == 4


def test_containment_detects_doc_inside_doc(spark):
    """A short doc quoted wholesale inside a long one: containment of
    the short side ~1.0 while Jaccard stays low (union dominated by
    the long side) — the case the asymmetric measure exists for."""
    short = "alpha beta gamma delta epsilon zeta"
    long = ("intro words here " + short + " and a very long tail " +
            " ".join(f"w{i}" for i in range(60)))
    docs = spark.createDataFrame(
        [(0, short), (1, long)], "doc_id long, text string"
    )
    cand = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    [c] = dedup.containment_pairs(docs, cand).collect()
    [j] = dedup.ngram_jaccard_pairs(docs, cand).collect()
    assert c["contain_a"] == 1.0          # every short-side shingle is in B
    assert c["contain_b"] < 0.15
    assert j["jaccard"] < 0.15            # symmetric measure misses it


def test_sq8_quantize_error_bounds(spark):
    import numpy as np

    from fossil_spark.operators import ann

    # vectors exactly on the 255-level grid reconstruct perfectly;
    # dim 2 is constant (scale 0) and must also be exact
    grid = [
        (0, [0.0, 1.0, 7.0]),
        (1, [255.0, 0.0, 7.0]),
        (2, [51.0, 0.5, 7.0]),   # 0.5 = code 128 of [0,1] -> off-grid
    ]
    df = spark.createDataFrame(grid, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in ann.sq8_quantize(df).collect()}
    assert got[0]["mse"] == 0.0 and got[0]["max_err"] == 0.0
    assert got[1]["mse"] == 0.0
    # row 2: dims 0 and 2 are exact; dim 1 error = |0.5 - 128/255|
    expected = abs(0.5 - 128.0 / 255.0)
    assert got[2]["max_err"] == pytest.approx(expected, abs=1e-9)
    assert got[2]["mse"] == pytest.approx(expected**2 / 3, abs=1e-9)
    # quantization error is bounded by step/2 per dimension
    step = 1.0 / 255.0
    assert got[2]["max_err"] <= step / 2 + 1e-12


def test_pq_ann_recall_and_compression(emb):
    queries = emb.filter("vec_id < 10")
    exact = ann.cosine_topk(emb, queries, k=5).collect()
    approx = ann.pq_ann(emb, queries, k=5).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # rerank closes the ADC gap: near-isotropic synthetic vectors are the
    # hard case and still clear 0.7 (measured 0.95)
    assert recall >= 0.7
    # the returned scores are EXACT cosines (rerank), so overlapping
    # pairs must agree with the exact scorer bitwise
    exact_scores = {(r["query_id"], r["vec_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact_scores:
            assert r["cos_sim"] == exact_scores[key]
    assert all(r["rank"] <= 5 for r in approx)


def test_pq_ann_deterministic(emb):
    queries = emb.filter("vec_id < 4")
    a = ann.pq_ann(emb, queries, k=3).collect()
    b = ann.pq_ann(emb, queries, k=3).collect()
    assert {(r["query_id"], r["vec_id"], r["cos_sim"]) for r in a} == \
        {(r["query_id"], r["vec_id"], r["cos_sim"]) for r in b}


def test_pq_ann_query_batching_bounds_driver_memory(emb):
    """A large query set streams through the driver in q_batch chunks
    (VERDICT r5 ask #4): with q_batch far below |Q| the results are
    IDENTICAL to the one-chunk run — the chunk boundary changes only
    how many ADC scans run, never scores, candidates, or ranks."""
    queries = emb.filter("vec_id < 40")
    one = ann.pq_ann(emb, queries, k=3, q_batch=100_000).collect()
    chunked = ann.pq_ann(emb, queries, k=3, q_batch=7).collect()
    as_set = lambda rows: {
        (r["query_id"], r["vec_id"], r["cos_sim"], r["rank"]) for r in rows
    }
    assert as_set(one) == as_set(chunked)
    assert len({r["query_id"] for r in chunked}) == 40


# --- SemDeDup (cluster-scoped semantic dedup) -------------------------------

def test_semdedup_drops_planted_near_duplicates(spark):
    import numpy as np

    from fossil_spark.pipelines import semdedup

    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # ids 100-102: near-copies of vector 0 (tiny noise)
    for j in range(3):
        rows.append(
            (100 + j, [float(x) for x in base[0] + rng.normal(scale=1e-3, size=16)])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semdedup(df, n_clusters=4, threshold=0.99).collect()}
    assert len(out) == 23
    # the copies share vector 0's cluster and are dropped; 0 survives
    assert out[0]["is_kept"]
    for j in (100, 101, 102):
        assert not out[j]["is_kept"]
        assert out[j]["cluster"] == out[0]["cluster"]
    # distinct originals survive
    assert sum(1 for r in out.values() if r["is_kept"]) == 20


def test_tfidf_keywords_rare_term_wins(spark):
    import math

    d = spark.createDataFrame(
        [(1, "common common zebra"), (2, "common common common"),
         (3, "common plain words")],
        "doc_id long, text string",
    )
    out = text.tfidf_keywords(d, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    top1 = {d_: sorted(rs, key=lambda r: r["rank"])[0] for d_, rs in by_doc.items()}
    # zebra appears once in one doc: df=1 -> highest idf, tops doc 1
    assert top1[1]["term"] == "zebra"
    assert top1[1]["tfidf"] == pytest.approx(round(1 * math.log(3 / 1), 6))
    # common appears in every doc: idf = ln(1) = 0
    common = [r for r in out if r["term"] == "common"]
    assert all(r["tfidf"] == 0.0 for r in common)


# --- weighted sampling (Efraimidis-Spirakis) --------------------------------

def _es_key(doc_id: int, weight: float, salt: str = "wsample") -> float:
    import hashlib
    import math

    h = hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()
    u = (int(h[:13], 16) + 1.0) / float(1 << 52)
    return -math.log(u) / weight


def test_weighted_sample_matches_reference_formula(spark):
    rows = [(i, 10 + i * 7) for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = text.weighted_sample(d, k=10, weight_col="n_chars").collect()
    expect = sorted(rows, key=lambda r: (_es_key(r[0], r[1]), r[0]))[:10]
    assert [r["doc_id"] for r in out] != []
    assert {r["doc_id"] for r in out} == {r[0] for r in expect}
    for r in out:
        assert r["sample_key"] == pytest.approx(
            round(_es_key(r["doc_id"], r["n_chars"]), 6)
        )


def test_weighted_sample_heavy_weights_dominate(spark):
    # two strata: weight 1 vs weight 10_000; with k = half the rows,
    # essentially every heavy row must be selected
    rows = [(i, 1) for i in range(50)] + [(100 + i, 10_000) for i in range(50)]
    d = spark.createDataFrame(rows, "doc_id long, n_chars long")
    picked = {r["doc_id"]
              for r in text.weighted_sample(d, k=50, weight_col="n_chars").collect()}
    heavy = sum(1 for i in picked if i >= 100)
    assert heavy >= 45


def test_weighted_sample_is_without_replacement_and_bounded(spark):
    d = spark.createDataFrame([(i, 5) for i in range(8)], "doc_id long, n_chars long")
    out = text.weighted_sample(d, k=20, weight_col="n_chars").collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == 8 and len(set(ids)) == 8


# --- hashed linear quality classifier ---------------------------------------

def test_quality_classifier_matches_reference_formula(spark):
    import hashlib
    import math

    docs = [(1, "alpha beta gamma"), (2, "alpha alpha alpha alpha")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.quality_classifier(d).collect()}
    for doc_id, txt in docs:
        toks = txt.split()
        ws = sum(
            int(hashlib.md5(f"qc:{t}".encode()).hexdigest()[:8], 16) % 2000001
            - 1000000
            for t in toks
        )
        z = ws / (len(toks) * 1e6)
        prob = 1.0 / (1.0 + math.exp(-z))
        r = out[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["weight_sum"] == ws
        assert r["quality_prob"] == pytest.approx(round(prob, 6))
        assert r["keep"] == (prob > 0.5)


def test_quality_classifier_is_shuffle_free(spark):
    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = text.quality_classifier(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


# --- ExactSubstr sliding-window duplicated spans ----------------------------

def test_substring_dedup_finds_planted_run(spark):
    shared = " ".join(f"s{i}" for i in range(12))  # 12 shared tokens
    docs = [
        (1, "a b c d e " + shared + " x y z w v"),
        (2, "p q r t u " + shared + " m n o k j"),
        (3, " ".join(f"u{i}" for i in range(25))),  # all unique
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.substring_dedup_stats(d, window_tokens=10).collect()}
    # only the 3 windows fully inside the shared run match (12-10+1)
    for i in (1, 2):
        assert out[i]["n_tokens"] == 22
        assert out[i]["n_windows"] == 13
        assert out[i]["dup_windows"] == 3
        assert out[i]["dup_tokens"] == 12  # merged span = the 12 shared tokens
        assert out[i]["dup_frac"] == pytest.approx(round(12 / 22, 6))
    assert out[3]["dup_windows"] == 0 and out[3]["dup_tokens"] == 0


def test_substring_dedup_short_docs_omitted(spark):
    d = spark.createDataFrame(
        [(1, "only nine tokens a b c d e f"), (2, " ".join(["t"] * 30))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup.substring_dedup_stats(d, window_tokens=10).collect()}
    assert 1 not in out  # < W tokens: cannot hold a length-W duplicate
    # doc 2 repeats one token 30x: every window identical -> all dup,
    # merged coverage = all 30 token positions
    assert out[2]["dup_windows"] == 21
    assert out[2]["dup_tokens"] == 30


# --- PCA projection ---------------------------------------------------------

def test_pca_recovers_planted_subspace(spark):
    import numpy as np

    # data living (almost) entirely in a planted 2-D subspace of R^8
    rng = np.random.default_rng(7)
    basis = np.linalg.qr(rng.normal(size=(8, 2)))[0]  # orthonormal 8x2
    coef = rng.normal(size=(40, 2)) * [5.0, 2.0]
    pts = coef @ basis.T + rng.normal(scale=1e-3, size=(40, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    proj, ratios = ann.pca_project(df, n_components=2)
    # top-2 components explain essentially everything
    assert sum(ratios) > 0.999
    assert ratios[0] > ratios[1] > 0
    # projections preserve pairwise distances of the planted coefficients
    got = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in proj.collect()}
    a = np.array([got[i] for i in range(40)])
    centered = coef - coef.mean(axis=0)
    d_true = np.linalg.norm(centered[0] - centered[1])
    d_got = np.linalg.norm(a[0] - a[1])
    assert d_got == pytest.approx(d_true, rel=1e-3)


def test_pca_projection_is_deterministic_and_jvm_side(spark):
    from fossil_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    p1, r1 = ann.pca_project(emb, n_components=3)
    p2, r2 = ann.pca_project(emb, n_components=3)
    assert r1 == r2
    assert p1.collect() == p2.collect()
    plan = p1._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


# --- graph analytics over the pair graph ------------------------------------

def test_graph_degrees_and_pagerank_star(spark):
    import numpy as np

    from fossil_spark.operators import graph

    # star: 0 at the center of 1..5, plus an isolated pair (10, 11)
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(10, 11)],
        "doc_a long, doc_b long",
    )
    deg = {r["doc_id"]: r["degree"] for r in graph.degrees(pairs).collect()}
    assert deg[0] == 5 and all(deg[i] == 1 for i in range(1, 6))
    assert deg[10] == deg[11] == 1

    pr = {r["doc_id"]: r["pagerank"] for r in graph.pagerank(pairs).collect()}
    # center outranks every leaf; leaves are symmetric
    assert pr[0] > pr[1]
    assert len({pr[i] for i in range(1, 6)}) == 1
    assert pr[10] == pr[11]

    # matches the same fixed power iteration computed independently
    nodes = [0, 1, 2, 3, 4, 5, 10, 11]
    idx = {n: i for i, n in enumerate(nodes)}
    edges = [(0, i) for i in range(1, 6)] + [(10, 11)]
    sym = edges + [(b, a) for a, b in edges]
    degv = np.zeros(len(nodes))
    for a, _ in sym:
        degv[idx[a]] += 1
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(10):
        nxt = np.full(len(nodes), 0.15 / len(nodes))
        for a, b in sym:
            nxt[idx[b]] += 0.85 * r[idx[a]] / degv[idx[a]]
        r = nxt
    for n_ in nodes:
        assert pr[n_] == pytest.approx(r[idx[n_]], abs=2e-6)


def test_graph_pagerank_deterministic(spark):
    from fossil_spark.operators import dedup, graph

    docs = spark.createDataFrame(
        [(i, f"common shared text block number {i % 3} repeated tokens here "
              "for minhash near dup detection across documents")
         for i in range(30)],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs)
    a = sorted(map(tuple, graph.pagerank(pairs, n_iter=5).collect()))
    b = sorted(map(tuple, graph.pagerank(pairs, n_iter=5).collect()))
    assert a == b and len(a) > 0


# --- bigram LM NLL ----------------------------------------------------------

def test_bigram_nll_orders_by_history_ambiguity(spark):
    # self-fit MLE semantics: repetition is most predictable (lowest),
    # singleton histories are "predictable" too (p_bi = 1/1 — the
    # documented in-sample caveat), AMBIGUOUS histories ('the' -> four
    # different continuations) carry the real surprise
    docs = [
        (1, " ".join(["spam"] * 40)),
        (2, " ".join(f"rare{i}" for i in range(40))),
        (3, "the cat sat on the mat and the dog sat on the rug"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.bigram_nll(d).collect()}
    assert out[1]["n_bigrams"] == 39
    assert out[1]["avg_nll"] < 0.5
    assert out[1]["avg_nll"] < out[2]["avg_nll"] < out[3]["avg_nll"]


def test_bigram_nll_heldout_fit_penalizes_novel_text(spark):
    # fit on a reference corpus; a doc full of unseen tokens hits the
    # 1e-12 floor and scores enormous NLL, unlike the self-fit case
    fit = spark.createDataFrame(
        [(100, "the cat sat on the mat " * 10)], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "zq xv qqq www eee rrr")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.bigram_nll(score, fit_df=fit).collect()}
    assert out[1]["avg_nll"] < 3.0
    assert out[2]["avg_nll"] > 20.0  # -ln(1e-12) ~ 27.6 per token


def test_bigram_nll_short_docs_omitted(spark):
    d = spark.createDataFrame(
        [(1, "single"), (2, "two tokens")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.bigram_nll(d).collect()}
    assert 1 not in out and out[2]["n_bigrams"] == 1


# --- per-group fixed-k sample -----------------------------------------------

def test_group_topk_sample_exact_sizes(spark):
    import hashlib

    rows = [(i, f"g{i % 3}") for i in range(50)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = text.group_topk_sample(d, k=5, group_col="source").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["source"], []).append(r)
    assert {g: len(v) for g, v in by_g.items()} == {"g0": 5, "g1": 5, "g2": 5}
    # matches the reference formula: lowest-5 md5 keys per group
    for g, members in by_g.items():
        ids = [i for i, src in rows if src == g]
        want = sorted(ids, key=lambda i: (
            hashlib.md5(f"gtopk:{i}".encode()).hexdigest(), i))[:5]
        assert sorted(r["doc_id"] for r in members) == sorted(want)


def test_group_topk_sample_small_groups_pass_through(spark):
    d = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    out = text.group_topk_sample(d, k=10, group_col="source").collect()
    assert len(out) == 3


def test_minhash_jaccard_estimate_tracks_true_jaccard(spark):
    # identical docs estimate 1.0; near-identical high; the estimator
    # only emits LSH candidate pairs
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (1, base),
        (2, base),                          # exact dup -> est 1.0
        (3, base + " with a small tail"),   # near dup
        (4, " ".join(f"z{i}" for i in range(30))),  # unrelated
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r for r in
           dedup.minhash_jaccard_estimate(d).collect()}
    assert out[(1, 2)]["jaccard_est"] == 1.0 and out[(1, 2)]["n_match"] == 8
    for (a, b), r in out.items():
        assert 4 not in (a, b)
        assert 0.0 <= r["jaccard_est"] <= 1.0


def test_temperature_weights_flatten_shares(spark):
    # group A has 9x the tokens of group B; T=2 compresses the gap
    d = spark.createDataFrame(
        [(i, "a", "tok " * 90) for i in range(10)]
        + [(100 + i, "b", "tok " * 10) for i in range(10)],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in
           text.temperature_weights(d, temperature=2.0).collect()}
    import math

    assert out["a"]["share"] == pytest.approx(0.9, abs=1e-6)
    # w ~ sqrt(p): 0.9488.. vs 0.3162 normalized
    wa = math.sqrt(0.9) / (math.sqrt(0.9) + math.sqrt(0.1))
    assert out["a"]["weight"] == pytest.approx(wa, abs=1e-4)
    # weights sum to 1, dominant group is DOWN-weighted, minority up
    assert out["a"]["weight"] + out["b"]["weight"] == pytest.approx(1.0, abs=1e-5)
    assert out["a"]["boost"] < 1.0 < out["b"]["boost"]


def test_compression_ratio_separates_repetition(spark):
    d = spark.createDataFrame(
        [(1, "spam " * 200),
         (2, "the quick brown fox jumps over the lazy dog and then discusses "
             "quarterly revenue projections with unprecedented enthusiasm")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.compression_ratio(d).collect()}
    assert out[1]["ratio"] < 0.05          # pure repetition collapses
    assert out[2]["ratio"] > 0.5           # natural prose doesn't
    assert out[1]["n_bytes"] == 1000
    # deterministic
    again = {r["doc_id"]: r["n_compressed"]
             for r in text.compression_ratio(d).collect()}
    assert again == {k: v["n_compressed"] for k, v in out.items()}


def test_embedding_outliers_flags_broken_vectors(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        v = rng.normal(size=16)
        v = v / np.linalg.norm(v)  # unit norm: the healthy population
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [0.0] * 16))              # zero vector
    rows.append((101, [float(1e4)] * 16))       # blowup
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in ann.embedding_outliers(d).collect()}
    assert out[100]["is_outlier"] and out[100]["norm"] == 0.0
    assert out[101]["is_outlier"] and out[101]["norm"] > 1e4
    healthy_flags = [out[i]["is_outlier"] for i in range(60)]
    assert sum(bool(f) for f in healthy_flags) == 0


def test_lexical_diversity_signals(spark):
    d = spark.createDataFrame(
        [(1, "spam spam spam spam"),            # TTR 0.25, no hapax
         (2, "all words here are unique now"),  # TTR 1, all hapax
         (3, "a a b b c")],                     # c is the only hapax
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.lexical_diversity(d).collect()}
    assert out[1]["ttr"] == 0.25 and out[1]["n_hapax"] == 0
    assert out[2]["ttr"] == 1.0 and out[2]["hapax_frac"] == 1.0
    assert out[3]["n_types"] == 3 and out[3]["n_hapax"] == 1


def test_embedding_coherence_separates_tight_and_mislabeled(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    a_dir = rng.normal(size=16); a_dir /= np.linalg.norm(a_dir)
    b_dir = rng.normal(size=16); b_dir /= np.linalg.norm(b_dir)
    rows = []
    for i in range(20):  # tight cluster around a_dir, label 0
        v = a_dir + rng.normal(scale=0.05, size=16)
        rows.append((i, [float(x) for x in v], 0))
    for i in range(20):  # tight cluster around b_dir, label 1
        v = b_dir + rng.normal(scale=0.05, size=16)
        rows.append((100 + i, [float(x) for x in v], 1))
    # mislabeled point: sits in cluster B but carries label 0
    rows.append((999, [float(x) for x in b_dir], 0))
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["vec_id"]: r["cos_to_centroid"]
           for r in ann.embedding_coherence(d).collect()}
    assert all(out[i] > 0.9 for i in range(20))
    assert all(out[100 + i] > 0.9 for i in range(20))
    assert out[999] < 0.5  # the mislabeled point scores low vs its own label


def test_cluster_size_histogram(spark):
    # triangle {1,2,3} + pair {10,11} + pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    out = {r["cluster_size"]: r["n_clusters"] for r in
           dedup.cluster_size_histogram(pairs).collect()}
    assert out == {3: 1, 2: 2}


def test_code_detector_separates_code_and_prose(spark):
    code = (
        "def main(argv): return sum([int(x) for x in argv]) if argv else 0\n"
        "class Foo_Bar: x_1 = {}; y_2 = (); z_3 = [1, 2]"
    )
    prose = ("the committee met on tuesday to discuss the annual budget and "
             "it was agreed that spending should remain within the plan for "
             "a third consecutive year")
    d = spark.createDataFrame([(1, code), (2, prose)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.code_detector(d).collect()}
    assert out[1]["is_code"] and out[1]["code_score"] > 0.5
    assert not out[2]["is_code"] and out[2]["code_score"] < 0.3
    assert out[1]["symbol_density"] > out[2]["symbol_density"]


def test_embedding_dim_stats_flags_dead_and_blown_dims(spark):
    """Planted 3-dim corpus: dim 0 constant (dead, std 0), dim 1
    alternating ±2 (mean 0, std 2), dim 2 one blown-up value caught
    by vmax; a ragged 2-dim row contributes only to dims 0-1."""
    from fossil_spark.operators import ann

    rows = [(i, [0.5, 2.0 if i % 2 == 0 else -2.0, 0.1]) for i in range(10)]
    rows.append((10, [0.5, 2.0]))            # ragged: no dim-2 sample
    rows.append((11, [0.5, -2.0, 100.0]))    # normalization bug on dim 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in ann.dim_stats(df).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["n"] == 12 and out[2]["n"] == 11
    assert out[0]["std"] == 0.0 and out[0]["mean"] == 0.5
    assert out[1]["mean"] == 0.0 and out[1]["std"] == 2.0
    assert out[2]["vmax"] == 100.0 and out[2]["vmin"] == pytest.approx(0.1)
    assert out[2]["mean"] > 5.0               # the blowup moves the mean


def test_graph_kcore_peels_tail_keeps_triangle(spark):
    """A triangle with a pendant chain: the 2-core peels the chain
    (5 first, then 4 once its degree drops) and keeps exactly the
    triangle at core degree 2; a pure chain peels to nothing within
    the fixed rounds."""
    from fossil_spark.operators import graph

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r["core_degree"]
           for r in graph.kcore(pairs, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long")
    assert graph.kcore(chain, k=2).count() == 0
    # k=3: the triangle itself dies (degree 2 < 3)
    assert graph.kcore(pairs, k=3).count() == 0


def test_graph_jaccard_transitive_miss(spark):
    """Triangle nodes share exactly one neighbor (J = 1/3, adjacent);
    two leaves hanging off the same hub have identical neighbor sets
    (J = 1) while NOT being adjacent — the transitive-miss signal the
    operator exists to surface."""
    from fossil_spark.operators import graph

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 6), (5, 6)],
        "doc_a long, doc_b long",
    )
    out = {(r["node_a"], r["node_b"]): r
           for r in graph.jaccard_similarity(pairs).collect()}
    for a, b in ((1, 2), (1, 3), (2, 3)):
        assert out[(a, b)]["jaccard"] == 0.333333
        assert out[(a, b)]["is_edge"]
        assert out[(a, b)]["n_common"] == 1 and out[(a, b)]["n_union"] == 3
    assert out[(4, 5)]["jaccard"] == 1.0
    assert not out[(4, 5)]["is_edge"]
    assert set(out) == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_graph_jaccard_center_degree_truncation(spark):
    """max_center_degree (r11 verdict #3): a degree-4 hub (node 10)
    is excluded as a wedge CENTER at cap 3, so its leaves' pairs
    vanish (their only shared neighbor was the hub) while wedges
    centered at low-degree nodes survive with FULL degrees in
    n_union."""
    from fossil_spark.operators import graph

    # hub 10 -- leaves 1..4; separate path 20-21-22 (center 21, deg 2)
    pairs = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3), (10, 4), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    exact = {(r["node_a"], r["node_b"])
             for r in graph.jaccard_similarity(pairs).collect()}
    assert (1, 2) in exact and (20, 22) in exact
    capped = {(r["node_a"], r["node_b"]): r
              for r in graph.jaccard_similarity(
                  pairs, max_center_degree=3).collect()}
    # all C(4,2)=6 hub-centered leaf pairs truncated away
    assert set(capped) == {(20, 22)}
    # the surviving wedge still reports full degrees: deg(20)=deg(22)=1
    assert capped[(20, 22)]["n_common"] == 1
    assert capped[(20, 22)]["n_union"] == 1
    assert capped[(20, 22)]["jaccard"] == 1.0
    # a cap at the hub's degree changes nothing
    at4 = {(r["node_a"], r["node_b"])
           for r in graph.jaccard_similarity(
               pairs, max_center_degree=4).collect()}
    assert at4 == exact


def test_graph_triangles_planted(spark):
    """Triangle {1,2,3} with a pendant 4-1, a triangle-free square
    {5,6,7,8}, and a K4 {20..23} (4 triangles, clustering 1.0
    everywhere). The hub-vs-clique contrast is the operator's point:
    node 1 (degree 3, one triangle) scores 1/3, square nodes 0."""
    from fossil_spark.operators import graph

    edges = [(1, 2), (2, 3), (1, 3), (1, 4),
             (5, 6), (6, 7), (7, 8), (5, 8)]
    edges += [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = {r["doc_id"]: r for r in graph.triangles(pairs).collect()}
    assert out[1]["n_triangles"] == 1 and out[1]["degree"] == 3
    assert out[1]["clustering"] == pytest.approx(1.0 / 3.0, abs=1e-6)
    assert out[2]["n_triangles"] == 1 and out[2]["clustering"] == 1.0
    assert out[4]["n_triangles"] == 0 and out[4]["clustering"] == 0.0
    for n in (5, 6, 7, 8):
        assert out[n]["n_triangles"] == 0 and out[n]["clustering"] == 0.0
    for n in range(20, 24):
        assert out[n]["n_triangles"] == 3 and out[n]["clustering"] == 1.0
    assert len(out) == 12


def test_char_entropy_separates_prose_from_blobs_and_padding(spark):
    """Entropy ordering: repeated single char ~0 < prose < uniform
    base62-ish blob; entropy_norm hits exactly 1.0 when every char is
    equally frequent; single-char docs normalize to 0."""
    import string

    from fossil_spark.operators import text

    blob = string.ascii_letters + string.digits      # 62 distinct, once each
    d = spark.createDataFrame(
        [(1, "aaaaaaaaaaaaaaaaaaaa"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, blob),
         (4, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.char_entropy(d).collect()}
    assert 4 not in out                      # empty doc omitted
    assert out[1]["entropy"] == 0.0 and out[1]["entropy_norm"] == 0.0
    assert out[1]["n_distinct"] == 1
    assert out[3]["entropy"] == pytest.approx(5.9542, abs=1e-3)  # log2(62)
    assert out[3]["entropy_norm"] == pytest.approx(1.0, abs=1e-6)
    assert 3.0 < out[2]["entropy"] < out[3]["entropy"]
    assert out[2]["n_chars"] == 43


def test_pipeline_quality_report_contrasts_sources(spark):
    """Two planted sources: 'good' carries 60-word English prose
    (passes Gopher, pred_lang en), 'junk' carries short punctuation
    blobs (fails Gopher, not English). One row per source with exact
    counts and a higher mean quality for the prose."""
    from fossil_spark.pipelines import quality_report

    # 60 words, all distinct (dup_frac 0, no repeated n-grams), with
    # English stopwords sprinkled in so lang-ID resolves to 'en'
    prose = " ".join(
        ["the", "and", "with", "from", "that"]
        + [f"word{chr(97 + i // 10)}{chr(97 + i % 10)}" for i in range(55)]
    )
    junk = "@@@ ### !!! $$$ %%%"
    rows = [(i, "good", prose) for i in range(4)]
    rows += [(10 + i, "junk", junk) for i in range(6)]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in quality_report(d).collect()}
    assert out["good"]["n_docs"] == 4 and out["junk"]["n_docs"] == 6
    assert out["good"]["n_tokens"] == 4 * 60
    assert out["good"]["gopher_pass_rate"] == 1.0
    assert out["junk"]["gopher_pass_rate"] == 0.0
    assert out["good"]["n_en"] == 4 and out["junk"]["n_en"] == 0
    assert out["good"]["mean_quality"] > out["junk"]["mean_quality"]


def test_bpe_train_learns_planted_merges(spark):
    from fossil_spark.operators.text import bpe_train

    # "ab" is the most frequent adjacent pair; after merging it,
    # ("ab", "</w>") dominates the second round.
    docs = spark.createDataFrame(
        [(i, "ab ab ab cd") for i in range(10)], "doc_id long, text string"
    )
    m = {r["merge_round"]: r for r in bpe_train(docs, n_merges=2).collect()}
    assert (m[1]["lhs"], m[1]["rhs"], m[1]["merged"]) == ("a", "b", "ab")
    assert m[1]["pair_count"] == 30
    assert (m[2]["lhs"], m[2]["rhs"]) == ("ab", "</w>")


def test_bpe_merge_is_greedy_left_to_right(spark):
    from fossil_spark.operators.text import bpe_encode, bpe_train

    # corpus of "aaa": pairs ('a','a') x2 per word -> merge (a,a).
    # Greedy left-to-right: "aaa</w>" -> [aa, a, </w>], i.e. a fresh
    # merge cannot immediately re-merge within the same pass, so the
    # encoded length is 3, not 2.
    docs = spark.createDataFrame([(0, "aaa aaa")], "doc_id long, text string")
    m = bpe_train(docs, n_merges=1).collect()[0]
    assert (m["lhs"], m["rhs"]) == ("a", "a") and m["pair_count"] == 4
    e = bpe_encode(docs, n_merges=1).collect()[0]
    assert (e["n_words"], e["n_bpe_tokens"]) == (2, 6)


def test_bpe_tie_break_is_lexicographic(spark):
    from fossil_spark.operators.text import bpe_train

    # "xy" and "ab" both occur exactly once -> every adjacent pair has
    # count 1; the winner must be the lexicographically smallest.
    docs = spark.createDataFrame([(0, "xy ab")], "doc_id long, text string")
    m = bpe_train(docs, n_merges=1).collect()[0]
    assert (m["lhs"], m["rhs"]) == ("a", "b")


def test_bpe_encode_non_ascii_falls_back_to_chars(spark):
    from fossil_spark.operators.text import bpe_encode

    # the non-ASCII word is excluded from training, so it encodes as
    # chars + 1 ('</w>'); the ASCII word gets the learned vocab.
    docs = spark.createDataFrame(
        [(0, "héllo"), (1, "ab ab")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bpe_encode(docs, n_merges=1).collect()}
    assert rows[0]["n_bpe_tokens"] == 6  # 5 chars + 1
    # "ab" merged once: [ab, </w>] = 2 pieces per word
    assert rows[1]["n_bpe_tokens"] == 4


def test_ann_recall_eval_counts_hits_and_misses(spark):
    from fossil_spark.operators.ann import recall_eval

    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2)],
        "query_id long, vec_id long, rank long",
    )
    # "good" finds 3 of 4; "bad" misses query 2 entirely
    cands = {
        "good": spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 99, 2)],
            "query_id long, vec_id long, rank long",
        ),
        "bad": spark.createDataFrame(
            [(1, 10, 1)], "query_id long, vec_id long, rank long"
        ),
    }
    rows = {r["method"]: r for r in recall_eval(truth, cands, k=2).collect()}
    g, b = rows["good"], rows["bad"]
    assert (g["n_queries"], g["n_true"], g["n_hits"]) == (2, 4, 3)
    assert g["recall_at_k"] == 0.75 and g["min_query_recall"] == 0.5
    assert (b["n_hits"], b["recall_at_k"], b["min_query_recall"]) == (1, 0.25, 0.0)


def test_kn_bigram_continuation_backoff_francisco_effect(spark):
    from fossil_spark.operators.text import bigram_nll, kn_bigram_nll

    # "francisco" is FREQUENT but only ever follows "san" (one
    # history); "cat" is equally frequent with four distinct
    # histories. In a novel context ("zzz ..."), Kneser-Ney backs off
    # to the continuation probability, so francisco must score WORSE
    # than cat — the signature the naive unigram mix cannot see
    # (both have identical unigram counts).
    fit = spark.createDataFrame(
        [(i, "san francisco") for i in range(4)]
        + [(10, "the cat"), (11, "a cat"), (12, "one cat"), (13, "two cat")],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100, "zzz francisco"), (101, "zzz cat")],
        "doc_id long, text string",
    )
    kn = {r["doc_id"]: r["avg_nll"]
          for r in kn_bigram_nll(probe, fit_df=fit).collect()}
    assert kn[100] > kn[101]
    naive = {r["doc_id"]: r["avg_nll"]
             for r in bigram_nll(probe, fit_df=fit).collect()}
    assert naive[100] == naive[101]  # unigram mix is blind to it


def test_label_propagation_spreads_majority_and_pins_seeds(spark):
    from fossil_spark.operators.graph import label_propagation

    # path graph 1-2-3-4 plus a triangle 5-6-7 where 5 and 7 are
    # seeds with DIFFERENT labels -> node 6 gets the tie-broken
    # (lexicographically smallest) label.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)],
        "doc_a long, doc_b long",
    )
    seeds = spark.createDataFrame(
        [(1, "web"), (5, "books"), (7, "web")], "doc_id long, label string"
    )
    out = {r["doc_id"]: r for r in label_propagation(pairs, seeds, 3).collect()}
    assert out[1]["label"] == "web" and out[1]["is_seed"]
    # 3 rounds reach node 4 along the path
    assert out[2]["label"] == "web"
    assert out[3]["label"] == "web"
    assert out[4]["label"] == "web"
    # seeds never change
    assert out[5]["label"] == "books" and out[7]["label"] == "web"
    # node 6 sees {books, web} with count 1 each -> 'books' wins the tie
    assert out[6]["label"] == "books" and not out[6]["is_seed"]


def test_rfm_segments_orientation(spark, tmp_path):
    import datetime as dt

    from fossil_spark.queries.analytics import rfm_segments

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user u buys u+1 times, each 10.0*(u+1) total value; user 4 is
    # the most recent buyer, user 0 the stalest
    for u in range(5):
        for j in range(u + 1):
            rows.append((eid, t0 + dt.timedelta(days=u * 5 + j), u,
                         "purchase", 10.0))
            eid += 1
    rows.append((eid, t0, 0, "view", 999.0))  # non-purchase is ignored
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r["user_id"]: r for r in rfm_segments(spark, str(tmp_path)).collect()}
    assert len(out) == 5
    # 5 users, ntile(5): exactly one user per quintile on each axis
    assert out[4]["r_score"] == 5 and out[0]["r_score"] == 1
    assert out[4]["f_score"] == 5 and out[0]["f_score"] == 1
    assert out[4]["m_score"] == 5 and out[0]["m_score"] == 1
    assert out[4]["rfm_code"] == 555 and out[0]["rfm_code"] == 111
    assert out[4]["recency_days"] == 0
    assert out[0]["frequency"] == 1 and out[4]["monetary"] == 50.0


def test_readability_separates_simple_from_dense(spark):
    from fossil_spark.operators.text import readability

    docs = spark.createDataFrame(
        [
            (0, "The cat sat. The dog ran. It was fun."),
            (1, "Notwithstanding institutional heterogeneity considerations,"
                " organizational interoperability notwithstanding"
                " methodological sophistication remains unquantifiable."),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in readability(docs).collect()}
    assert out[0]["n_sentences"] == 3 and out[0]["n_words"] == 9
    # simple prose scores far higher than polysyllabic jargon
    assert out[0]["flesch"] > 80 > out[1]["flesch"]
    # degenerate doc stays finite via the floor-at-1 counts
    assert out[2]["n_words"] == 1 and out[2]["flesch"] is not None


def test_basket_rules_planted_cooccurrence(spark, tmp_path):
    import datetime as dt

    from fossil_spark.queries.analytics import basket_rules

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def session(user, start_h, types):
        nonlocal eid, rows
        for i, ty in enumerate(types):
            rows.append((eid, t0 + dt.timedelta(hours=start_h, minutes=i),
                         user, ty, 1.0))
            eid += 1

    # "view" and "click" always co-occur (3 sessions); "error" appears
    # alone in its own session
    session(1, 0, ["view", "click"])
    session(1, 5, ["view", "click", "view"])  # dup item dedups in the set
    session(2, 0, ["view", "click"])
    session(2, 5, ["error"])
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {(r["item_a"], r["item_b"]): r
           for r in basket_rules(spark, str(tmp_path)).collect()}
    assert set(out) == {("click", "view")}
    r = out[("click", "view")]
    assert (r["n_a"], r["n_b"], r["n_ab"]) == (3, 3, 3)
    assert r["support"] == 0.75  # 3 of 4 sessions
    assert r["conf_a_to_b"] == 1.0 and r["conf_b_to_a"] == 1.0
    assert r["lift"] == round(3 * 4 / 9, 6)


def test_user_gini_extremes(spark, tmp_path):
    import datetime as dt

    from fossil_spark.queries.analytics import user_gini

    t0 = dt.datetime(2024, 1, 1)

    def write(rows, name):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double",
        )
        p = f"{tmp_path}/{name}"
        df.write.mode("overwrite").parquet(f"{p}/events.parquet")
        return p

    # perfectly equal: 4 users x 3 events -> gini 0
    eq = write(
        [(i, t0, i % 4, "view", 1.0) for i in range(12)], "equal"
    )
    r = user_gini(spark, eq).collect()[0]
    assert (r["n_users"], r["n_events"], r["gini"]) == (4, 12, 0.0)
    # one whale: user 0 has 97 events, three users have 1 each
    skew = write(
        [(i, t0, 0, "view", 1.0) for i in range(97)]
        + [(100 + u, t0, u, "view", 1.0) for u in (1, 2, 3)],
        "skewed",
    )
    r = user_gini(spark, skew).collect()[0]
    assert r["gini"] > 0.7


def test_zipf_fit_flags_flat_distributions(spark):
    from fossil_spark.operators.text import zipf_fit

    # Zipf-ish corpus: token k appears ~N/k times
    zipf_rows = [
        (i, " ".join(f"w{k}" for k in range(1, 40) for _ in range(40 // k)))
        for i in range(4)
    ]
    z = zipf_fit(
        spark.createDataFrame(zipf_rows, "doc_id long, text string")
    ).collect()[0]
    assert z["zipf_slope"] < -0.6 and z["r2"] > 0.8
    # uniform corpus: every token exactly once -> flat; slope ~0 up to
    # the decimal(30,8) per-term quantization residual, r2 null
    # (vary = 0 -> try_divide)
    flat = zipf_fit(
        spark.createDataFrame(
            [(0, " ".join(f"u{k}" for k in range(200)))],
            "doc_id long, text string",
        )
    ).collect()[0]
    assert abs(flat["zipf_slope"]) < 1e-4
    assert flat["r2"] is None


def test_session_paths_ordered_and_counted(spark, tmp_path):
    import datetime as dt

    from fossil_spark.queries.analytics import session_paths

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def session(user, start_h, types):
        nonlocal eid
        for i, ty in enumerate(types):
            rows.append((eid, t0 + dt.timedelta(hours=start_h, minutes=i),
                         user, ty, 1.0))
            eid += 1

    session(1, 0, ["view", "click", "purchase"])
    session(2, 0, ["view", "click", "purchase"])
    session(1, 5, ["purchase", "view"])  # different ORDER -> distinct path
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r["path"]: r for r in session_paths(spark, str(tmp_path)).collect()}
    assert out["view>click>purchase"]["n_sessions"] == 2
    assert out["view>click>purchase"]["n_events_per_session"] == 3
    assert out["purchase>view"]["n_sessions"] == 1


def test_dedup_savings_counts_non_representatives(spark):
    from fossil_spark.pipelines import dedup_savings

    dup = ("the quick brown fox jumps over the lazy dog and then runs far "
           "away into the deep dark woods tonight")
    docs = spark.createDataFrame(
        [
            (0, dup),
            (1, dup),          # near-dup cluster {0, 1, 2}: keep 0
            (2, dup + " yes"),
            (3, "completely different text about spark shuffles and "
                "partitions written with many unrelated words here"),
        ],
        "doc_id long, text string",
    )
    r = dedup_savings(docs).collect()[0]
    assert r["n_docs"] == 4
    assert r["n_dup_docs"] == 3 and r["n_removable_docs"] == 2
    assert 0 < r["token_savings_frac"] < 1
    assert r["n_removable_tokens"] > 0


def test_threshold_sweep_monotone_and_complete(spark):
    from fossil_spark.operators.dedup import threshold_sweep

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.6), (2, 3, 0.3)],
        "vec_a long, vec_b long, cos_sim double",
    )
    out = {r["threshold"]: r for r in
           threshold_sweep(pairs, thresholds=[0.25, 0.5, 0.8, 0.95]).collect()}
    assert [out[t]["n_pairs"] for t in (0.25, 0.5, 0.8, 0.95)] == [3, 2, 1, 0]
    assert out[0.25]["frac_of_candidates"] == 1.0
    assert out[0.95]["frac_of_candidates"] == 0.0  # empty cutoffs still row


def test_mixture_plan_budget_and_epochs(spark):
    from fossil_spark.operators.text import mixture_plan

    # source "big" has 9x the tokens of "small"; T=2 flattening gives
    # small a larger-than-natural share of the budget
    docs = spark.createDataFrame(
        [(i, "w " * 90, "big") for i in range(10)]
        + [(100 + i, "w " * 10, "small") for i in range(10)],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r
           for r in mixture_plan(docs, budget_tokens=1000).collect()}
    big, small = out["big"], out["small"]
    assert big["n_tokens"] == 900 and small["n_tokens"] == 100
    # weights sum to ~1 and targets sum to <= budget
    assert abs(big["weight"] + small["weight"] - 1.0) < 1e-5
    assert big["target_tokens"] + small["target_tokens"] <= 1000
    # flattening: small's weight (0.25) far above its 0.1 share
    assert small["weight"] > small["share"]
    # small must repeat (~2.5 epochs); big downsamples (rate < 1)
    assert small["epochs"] > 2 and small["sample_rate"] == 1.0
    assert big["sample_rate"] < 1.0


def test_ab_test_detects_planted_effect(spark, tmp_path):
    import datetime as dt
    import hashlib

    from fossil_spark.queries.analytics import ab_test

    t0 = dt.datetime(2024, 1, 1)

    def variant(u):
        return int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:8], 16) % 2

    rows, eid = [], 0
    # variant 1 users are heavy purchasers (20 purchases), variant 0
    # users light (2) -> a large, significant effect
    for u in range(200):
        n = 20 if variant(u) else 2
        for i in range(n):
            rows.append((eid, t0 + dt.timedelta(minutes=i), u,
                         "purchase", 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = ab_test(spark, str(tmp_path)).collect()[0]
    assert r["n_a"] + r["n_b"] == 200
    assert r["p_b"] == 1.0 and r["p_a"] == 0.0
    assert r["significant_95"] and r["z_score"] > 10


def test_knn_classify_separable_clusters(spark):
    from fossil_spark.operators.ann import knn_classify

    # two tight, well-separated clusters -> perfect leave-one-out
    # accuracy; one planted mislabel gets outvoted (accuracy < 1 for
    # its claimed class)
    rows = []
    for i in range(10):
        rows.append((i, [10.0 + 0.01 * i, 0.0, 1.0], 0))
    for i in range(10, 20):
        rows.append((i, [0.0, 10.0 + 0.01 * i, 1.0], 1))
    rows.append((20, [10.0, 0.0, 1.0], 1))  # sits in cluster 0, labeled 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in knn_classify(df, k=3, n_queries=21).collect()}
    assert out[0]["accuracy"] == 1.0
    # the mislabeled point is predicted 0, dragging label-1 accuracy
    assert out[1]["n_queries"] == 11 and out[1]["n_correct"] == 10


def test_range_search_threshold_boundary(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ann.range_search(
        df, df.filter("vec_id = 0"), threshold=0.5
    ).collect()
    # vec 1 is near-parallel (cos ~ 0.994); vec 2 orthogonal; self excluded
    assert [(r["query_id"], r["vec_id"]) for r in out] == [(0, 1)]
    assert out[0]["cos_sim"] > 0.99


def test_centroid_drift_planted(spark):
    rows = [
        # label 0: snap 0 points on x-axis, snap 1 on y-axis
        (0, 0, 0, [1.0, 0.0]),
        (1, 0, 0, [1.0, 0.0]),
        (2, 0, 1, [0.0, 1.0]),
        # label 1: only one snapshot -> omitted
        (3, 1, 0, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, snap int, embedding array<double>"
    )
    out = ann.centroid_drift(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["label"], r["n_a"], r["n_b"]) == (0, 2, 1)
    assert r["cos_centroid"] == 0.0
    assert r["l2_shift"] == round(2.0**0.5, 6)


def test_new_returning_accounting_identities(spark):
    from fossil_spark.queries import analytics

    out = analytics.new_returning(spark, SF).collect()
    assert len(out) >= 2
    for r in out:
        assert r["active_users"] == r["new_users"] + r["returning_users"]
    # every user is new exactly once
    ev = read_table(spark, SF, "events")
    assert sum(r["new_users"] for r in out) == ev.select(
        "user_id"
    ).distinct().count()
    # the first week has no history: everyone is new
    first = min(out, key=lambda r: r["week"])
    assert first["returning_users"] == 0


def test_mixture_apply_saturated_sources_keep_everything(spark, docs):
    from fossil_spark.pipelines import mixture_apply

    out = mixture_apply(docs, budget_tokens=100_000).collect()
    assert len(out) > 0
    for r in out:
        assert 0 <= r["kept_docs"] <= r["n_docs"]
        assert 0 <= r["kept_tokens"] <= r["n_tokens"]
        if r["sample_rate"] == 1.0:
            # rate 1 means the source is data-constrained: keep all
            assert r["kept_docs"] == r["n_docs"]
            assert r["kept_tokens"] == r["n_tokens"]


def test_bpe_vocab_coverage_invariants(spark, docs):
    out = text.bpe_vocab_coverage(docs, n_merges=5).collect()
    assert len(out) == 1
    r = out[0]
    assert 0 < r["in_vocab_occ"] <= r["n_word_occ"]
    assert 0.0 < r["in_vocab_frac"] <= 1.0
    assert 0 <= r["n_single_piece_types"] <= r["n_types"]
    # char-split words average > 1 piece with only 5 merges
    assert r["mean_pieces_in_vocab"] > 1.0


def test_attribution_last_touch(spark, monkeypatch):
    from datetime import datetime, timedelta

    from fossil_spark.queries import analytics
    from fossil_spark.session import read_table as real_read

    t0 = datetime(2024, 1, 1)
    rows = [
        (0, t0, 7, "view", 0.0),
        (1, t0 + timedelta(minutes=10), 7, "purchase", 50.0),   # <- view
        (2, t0 + timedelta(hours=3), 7, "purchase", 30.0),      # stale -> direct
        (3, t0, 8, "purchase", 20.0),                           # first -> direct
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    import fossil_spark.queries.analytics as mod

    monkeypatch.setattr(mod, "read_table", lambda s, d, t: ev)
    out = {r["attributed_type"]: r for r in analytics.attribution(spark, "x").collect()}
    assert out["view"]["n_purchases"] == 1 and out["view"]["revenue"] == 50.0
    assert out["direct"]["n_purchases"] == 2 and out["direct"]["revenue"] == 50.0
    assert out["view"]["share"] == round(1 / 3, 6) or abs(out["view"]["share"] - 0.333333) < 1e-9


def test_quality_representative_one_per_component(spark, docs):
    from fossil_spark.operators import dedup

    out = dedup.quality_representative(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        reps = [m for m in members if m["is_representative"]]
        assert len(reps) == 1
        best_q = max(m["quality"] for m in members)
        assert reps[0]["quality"] == best_q
        # tie-break: smallest doc_id among max-quality members
        assert reps[0]["doc_id"] == min(
            m["doc_id"] for m in members if m["quality"] == best_q
        )


def test_dup_audit_counts_identical_vectors(spark):
    rows = [
        (0, [1.0, 2.0]),
        (1, [1.0, 2.0]),
        (2, [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = ann.dup_audit(df).collect()[0]
    assert (r["n_vectors"], r["n_distinct"]) == (3, 2)
    assert (r["n_dup_groups"], r["n_dup_vectors"], r["max_group_size"]) == (1, 2, 2)


def test_encoding_audit_flags_mojibake(spark):
    rows = [
        (0, "clean ascii text here"),
        (1, "bad \x01 control char"),
        (2, "replacement � char"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.encoding_audit(df).collect()}
    assert not out[0]["encoding_suspect"]
    assert out[1]["encoding_suspect"] and out[1]["n_control"] == 1
    assert out[2]["encoding_suspect"] and out[2]["n_replacement"] == 1


def test_purchase_cadence_planted(spark, monkeypatch):
    from datetime import datetime, timedelta

    import fossil_spark.queries.analytics as mod

    t0 = datetime(2024, 1, 1)
    rows = [
        (0, t0, 7, "purchase", 1.0),
        (1, t0 + timedelta(hours=2), 7, "purchase", 1.0),
        (2, t0 + timedelta(hours=6), 7, "purchase", 1.0),
        (3, t0, 8, "view", 1.0),  # non-purchase ignored
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    monkeypatch.setattr(mod, "read_table", lambda s, d, t: ev)
    r = mod.purchase_cadence(spark, "x").collect()[0]
    assert (r["n_repeat_users"], r["n_gaps"]) == (1, 2)
    # gaps 2h and 4h -> median 3h
    assert r["median_gap_hours"] == 3.0
    assert (r["min_gap_hours"], r["max_gap_hours"]) == (2.0, 4.0)


def test_survival_km_hand_computed(spark, monkeypatch):
    """KM on four planted customers: lifetimes 0/10/20 churn, 200
    censored (the horizon holder). S steps 3/4 -> 1/2 -> 1/4 with the
    censored customer leaving the risk set WITHOUT an event."""
    from datetime import datetime, timedelta

    import fossil_spark.queries.analytics as mod

    t0 = datetime(2024, 1, 1)
    rows = []
    ok = 0
    for cust, days in ((1, (0, 10)), (2, (0, 20)), (3, (0,)),
                       (4, (0, 200))):
        for d in days:
            ok += 1
            rows.append((ok, cust, t0 + timedelta(days=d), 1.0))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double")
    monkeypatch.setattr(mod, "read_table", lambda s, d, t: orders)
    out = [(r["t_days"], r["n_risk"], r["n_events"], r["survival"])
           for r in mod.survival_km(spark, "x").collect()]
    assert out == [(0, 4, 1, 0.75), (10, 3, 1, 0.5), (20, 2, 1, 0.25)]


def test_survival_km_final_event_pins_zero(spark, monkeypatch):
    """A churn event at the maximum lifetime has d = n_risk; survival
    must pin to exactly 0.0 (no ln(0) anywhere), and event-free times
    don't emit rows."""
    from datetime import datetime, timedelta

    import fossil_spark.queries.analytics as mod

    t0 = datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(1, 1, t0, 1.0), (2, 1, t0 + timedelta(days=209), 1.0),
         (3, 2, t0 + timedelta(days=300), 1.0)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double")
    monkeypatch.setattr(mod, "read_table", lambda s, d, t: orders)
    out = [(r["t_days"], r["n_risk"], r["n_events"], r["survival"])
           for r in mod.survival_km(spark, "x").collect()]
    assert out == [(209, 1, 1, 0.0)]


def test_price_elasticity_planted_powerlaw(spark, monkeypatch):
    """qty = price^-2 exactly: the log-log OLS must recover
    elasticity -2 with r2 = 1 (terms only wiggle at the @8 quantizer)."""
    import fossil_spark.queries.analytics as mod

    li_rows, pk = [], 0
    for p in (1.0, 2.0, 4.0, 8.0):
        q = p ** -2
        pk += 1
        li_rows.append((pk, pk, q, p * q))
    li = spark.createDataFrame(
        li_rows, "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double")
    part = spark.createDataFrame(
        [(i, "Brand#T") for i in range(1, 5)],
        "p_partkey long, p_brand string")
    monkeypatch.setattr(
        mod, "read_table",
        lambda s, d, t: {"lineitem": li, "part": part}[t])
    r = mod.price_elasticity(spark, "x").collect()
    assert len(r) == 1
    assert r[0]["n_items"] == 4
    assert abs(r[0]["elasticity"] + 2.0) < 1e-6
    assert r[0]["r2"] >= 0.999999


def test_prefix_dedup_planted(spark):
    prefix = " ".join(f"w{i}" for i in range(32))
    rows = [
        (0, prefix + " tail one"),
        (1, prefix + " completely different ending words"),
        (2, "unrelated document body entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(dedup.prefix_dedup(df, 32).collect(), key=lambda r: r["doc_id"])
    assert [(r["doc_id"], r["group_id"], r["n_docs_same_prefix"]) for r in out] \
        == [(0, 0, 2), (1, 0, 2)]


def test_nrr_week0_is_one(spark):
    from fossil_spark.queries import analytics

    out = analytics.net_revenue_retention(spark, SF).collect()
    assert len(out) >= 1
    for r in out:
        if r["period_offset"] == 0 and r["revenue"] and r["revenue"] != 0:
            assert r["nrr"] == 1.0


def test_heaps_law_repetitive_vs_diverse(spark):
    # diverse corpus: every token globally unique -> V(n) = n -> beta 1
    div = [(i, " ".join(f"tok{i}_{j}" for j in range(20))) for i in range(30)]
    d1 = spark.createDataFrame(div, "doc_id long, text string")
    r1 = text.heaps_law(d1).collect()[0]
    assert r1["heaps_beta"] == 1.0 and r1["vocab_size"] == r1["n_tokens"]
    # degenerate corpus: one repeated token -> vocabulary never grows
    rep = [(i, "same same same same same") for i in range(30)]
    d2 = spark.createDataFrame(rep, "doc_id long, text string")
    r2 = text.heaps_law(d2).collect()[0]
    assert r2["vocab_size"] == 1
    assert r2["heaps_beta"] < 0.05


def test_suffix_dedup_planted(spark):
    suffix = " ".join(f"s{i}" for i in range(32))
    rows = [
        (0, "alpha beginning " + suffix),
        (1, "totally different start " + suffix),
        (2, "no shared footer at all here"),
        (3, "short doc"),  # shorter than the window: keys on full text
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(dedup.suffix_dedup(df, 32).collect(), key=lambda r: r["doc_id"])
    got = [(r["doc_id"], r["group_id"], r["n_docs_same_suffix"]) for r in out]
    assert got == [(0, 0, 2), (1, 0, 2), (3, 3, 2), (4, 3, 2)]


def test_jsd_identical_vs_disjoint_sources(spark):
    rows = []
    for i in range(20):
        rows.append((i, "common words shared here", "a"))
        rows.append((100 + i, "common words shared here", "b"))
        rows.append((200 + i, "entirely different vocabulary tokens", "c"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r["jsd"] for r in
           text.jsd_sources(df, "source", "text").collect()}
    import math

    assert out[("a", "b")] == 0.0
    # disjoint vocabularies: JSD = ln 2
    assert abs(out[("a", "c")] - math.log(2)) < 1e-6


def test_intrinsic_dim_line_is_one_dimensional(spark):
    # Facco's 2-NN estimator assumes POISSON sampling (a regular grid
    # has d1 == d2 ties and the estimate diverges — verified): sample
    # a 1-D manifold embedded in 4-D at md5-uniform positions
    import hashlib

    def u(i):
        return int(hashlib.md5(f"id:{i}".encode()).hexdigest()[:8], 16) / 0xFFFFFFFF

    rows = [
        (i, [1000.0 * u(i), 2000.0 * u(i), 500.0 * u(i), -1000.0 * u(i)])
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = ann.intrinsic_dim(df, n_probes=500).collect()[0]
    assert r["n_probes_used"] > 400
    assert abs(r["intrinsic_dim"] - 1.0) < 0.25


def test_structure_stats_menu_vs_prose(spark):
    menu = "\n".join(["Home", "About", "", "Products", "Contact us"])
    prose = (
        "This is one long flowing paragraph of ordinary prose that keeps "
        "going for quite a while without any line breaks in it at all."
    )
    df = spark.createDataFrame(
        [(0, menu), (1, prose)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.structure_stats(df).collect()}
    m, p = out[0], out[1]
    assert m["n_lines"] == 5 and m["blank_line_ratio"] == 0.2
    assert m["short_line_ratio"] == 0.8
    assert p["n_lines"] == 1 and p["short_line_ratio"] == 0.0
    assert p["mean_line_len"] > 100


def test_dedup_method_compare_consistency(spark, docs):
    out = {r["method"]: r for r in dedup.method_compare(docs).collect()}
    assert set(out) == {"exact", "prefix", "suffix", "minhash"}
    for m, r in out.items():
        # every multi-doc group has >= 2 members
        if r["n_groups"] > 0:
            assert r["n_docs_flagged"] >= 2 * r["n_groups"]
        else:
            assert r["n_docs_flagged"] == 0
    # minhash (near-dup) flags at least the exact dups' docs
    assert out["minhash"]["n_docs_flagged"] >= out["exact"]["n_docs_flagged"]


def test_retention_halflife_planted_decay(spark, monkeypatch):
    from datetime import datetime, timedelta

    import fossil_spark.queries.analytics as mod

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # one cohort of 64 users; half leave every week: perfect ln2 decay
    for week in range(5):
        for u in range(64 >> week):
            rows.append((eid, t0 + timedelta(weeks=week), u, "view", 0.0))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    monkeypatch.setattr(mod, "read_table", lambda s, d, t: ev)
    r = mod.retention_halflife(spark, "x").collect()[0]
    assert r["n_offsets"] == 4
    assert abs(r["decay_rate_per_week"] + 0.693147) < 1e-4
    assert abs(r["halflife_weeks"] - 1.0) < 1e-4
    assert r["r2"] == 1.0


def test_recall_curve_monotone_hits(spark, emb):
    from fossil_spark.operators import ann as ann_mod

    q = emb.filter("vec_id < 4")
    truth = ann_mod.cosine_topk(emb, q, k=10)
    out = sorted(
        ann_mod.recall_curve(truth, truth, ks=[1, 3, 5, 10]).collect(),
        key=lambda r: r["k"],
    )
    # a perfect candidate set has recall 1 at every cut
    assert [r["recall_at_k"] for r in out] == [1.0] * 4
    # n_true grows with k
    trues = [r["n_true"] for r in out]
    assert trues == sorted(trues)


def test_anomaly_summary_counts_match_detectors(spark):
    from fossil_spark.pipelines import anomaly_summary
    from fossil_spark.operators import timeseries as tsm
    from fossil_spark.session import read_table

    ev = read_table(spark, SF, "events")
    out = {r["detector"]: r["n_alerts"] for r in anomaly_summary(ev).collect()}
    assert set(out) == {
        "bucket_burst", "hampel_spike", "threshold_episode", "error_incident"
    }
    # spot-check one detector against its operator directly
    direct = tsm.threshold_episodes(
        ev, 80.0, "ts", ["event_type"], "value", ["event_id"]
    ).count()
    assert out["threshold_episode"] == direct


def test_dedup_rate_by_source_consistency(spark, docs):
    out = dedup.rate_by_source(docs).collect()
    total_docs = sum(r["n_docs"] for r in out)
    assert total_docs == docs.count()
    for r in out:
        assert 0 <= r["n_removable"] <= r["n_in_dup"] <= r["n_docs"]
        assert 0.0 <= r["dup_rate"] <= 1.0


def test_index_agreement_bounds_and_self(spark, emb):
    from fossil_spark.operators import ann as ann_mod

    q = emb.filter("vec_id < 4")
    truth = ann_mod.cosine_topk(emb, q, k=5)
    r = ann_mod.index_agreement({"a": truth, "b": truth}, k=5).collect()[0]
    # identical result sets agree perfectly
    assert (r["index_a"], r["index_b"]) == ("a", "b")
    assert r["mean_jaccard"] == 1.0


def test_pii_screen_planted(spark):
    rows = [
        (0, "contact me at alice@example.com or bob@test.org", "a"),
        (1, "server at 192.168.1.1 and 10.0.0.255 responded", "a"),
        (2, "ssn 123-45-6789 and account 9876543210 leaked", "b"),
        (3, "perfectly clean text with no identifiers", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["group"]: r for r in text.pii_screen(df).collect()}
    assert out["a"]["n_emails"] == 2 and out["a"]["n_ipv4"] == 2
    assert out["a"]["n_docs_with_pii"] == 2
    assert out["b"]["n_ssn_like"] == 1 and out["b"]["n_long_digit_runs"] == 1
    assert out["b"]["n_docs_with_pii"] == 1
    assert out["b"]["pii_per_doc"] == 1.0


def test_dedup_aware_sample_drops_dupes_first(spark):
    from fossil_spark.pipelines import dedup_aware_sample

    # 10 distinct docs + 9 copies of doc 0: the copies must never be
    # sample candidates regardless of their md5 draw
    base = "unique words number %d " + "shared tail of tokens " * 8
    rows = [(i, base % i, "src") for i in range(10)]
    rows += [(100 + i, base % 0, "src") for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = dedup_aware_sample(df, 1.0).collect()[0]
    assert r["n_docs"] == 19
    # every near-dup component keeps exactly one representative
    assert r["n_canonical"] <= 10
    # rate 1.0: every canonical doc is sampled
    assert r["n_sampled"] == r["n_canonical"]
    assert r["sampled_tokens"] < r["n_tokens"]


def test_class_balanced_sample_targets_minority(spark):
    rows = [(i, 0) for i in range(200)] + [(1000 + i, 1) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, label int")
    out = {r["label"]: r for r in text.class_balanced_sample(df).collect()}
    assert out[1]["target"] == 20 and out[1]["n_kept"] == 20
    # majority class downsampled toward the minority size (md5 rule:
    # expected 20, generous tolerance for hash luck on 200 draws)
    assert out[0]["target"] == 20
    assert 8 <= out[0]["n_kept"] <= 36


def test_filtered_topk_respects_predicate(spark):
    from fossil_spark.operators import ann

    # two labels; vectors within a label are near-identical, across
    # labels orthogonal-ish — unfiltered top-k would still pick same
    # label, so plant a CLOSER cross-label vector to prove filtering
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [1.0, 0.01, 0.0], 1),  # closest to 0 but wrong label
        (3, [0.0, 1.0, 0.0], 1),
        (4, [0.5, 0.5, 0.0], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ann.filtered_topk(df, df.filter("vec_id = 0"), k=2).collect()
    ids = {r["vec_id"] for r in out}
    assert ids == {1, 4}
    assert all(r["label"] == 0 for r in out)


def test_truncation_recall_monotone_and_exact_at_full_width(spark):
    from fossil_spark.operators import ann

    # 64-dim vectors whose information is entirely in the first 8
    # dims (rest constant): dim8 recall must already be 1.0
    import math

    rows = []
    for i in range(20):
        head = [math.sin(i * 7.3 + j) for j in range(8)]
        rows.append((i, head + [0.5] * 56))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["method"]: r for r in ann.truncation_recall(
        df, df.filter("vec_id < 4"), (8, 64), k=3
    ).collect()}
    assert out["dim64"]["recall_at_k"] == 1.0  # full width == truth
    assert out["dim8"]["n_true"] == 12
    assert 0.0 <= out["dim8"]["recall_at_k"] <= 1.0


def test_bq_recall_perfect_on_sign_separable_vectors(spark):
    from fossil_spark.operators import ann

    # staircase sign patterns: vector i is +1 on the first 4*i dims,
    # -1 after — hamming(i,j) = 4|i-j| and cosine = (64-8|i-j|)/64 are
    # BOTH monotone in |i-j| with the same id tie-break, so 1-bit
    # search reproduces the exact ranking
    rows = [
        (i, [1.0 if d < 4 * i else -1.0 for d in range(64)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = ann.bq_recall(df, df.filter("vec_id < 2"), k=3, dim=64).collect()[0]
    assert r["method"] == "bq64"
    assert r["n_queries"] == 2 and r["n_true"] == 6
    assert r["recall_at_k"] == 1.0


def test_bq_recall_rejects_dim_past_one_word(spark):
    from fossil_spark.operators import ann

    df = spark.createDataFrame(
        [(0, [1.0] * 80)], "vec_id long, embedding array<float>"
    )
    # one int64 signature holds 64 sign bits; dim=80 would silently
    # emit 2**64+ literals (corrupt packing) without the guard
    with pytest.raises(ValueError, match=r"\[1, 64\]"):
        ann.bq_recall(df, df, k=1, dim=80)
    with pytest.raises(ValueError, match=r"\[1, 64\]"):
        ann.bq_recall(df, df, k=1, dim=0)


def test_source_health_planted(spark):
    from fossil_spark.pipelines import source_health

    rows = [
        (0, "the quick brown fox and the lazy dog run home", "clean"),
        (1, "der hund und die katze sind nicht zu haus auf", "clean"),
        (2, "email me at bob@example.com for the data and the rest", "leaky"),
        (3, "broken \x01 bytes in the middle of the text here", "leaky"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in source_health(df).collect()}
    assert out["clean"]["pii_doc_rate"] == 0.0
    assert out["clean"]["suspect_rate"] == 0.0
    assert out["clean"]["en_share"] == 0.5  # one en, one de doc
    assert out["leaky"]["pii_doc_rate"] == 0.5
    assert out["leaky"]["suspect_rate"] == 0.5
    assert out["leaky"]["n_docs"] == 2
    assert 0.0 < out["clean"]["mean_quality"] <= 1.0


def test_lsh_diagnosis_theory_curve(spark):
    from fossil_spark.operators import dedup

    # near-identical pair (differs by one word far in) + unrelated doc
    a = " ".join(f"tok{i}" for i in range(40))
    b = a.replace("tok37", "tokX")
    rows = [(0, a, "s"), (1, b, "s"),
            (2, " ".join(f"zzz{i}" for i in range(40)), "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = dedup.lsh_diagnosis(df).collect()
    assert all(r["lsh_threshold"] == 0.5 for r in out)
    for r in out:
        s = r["jaccard_est"]
        want = round(1.0 - (1.0 - s * s) ** 4, 6)
        assert abs(r["theory_p_candidate"] - want) < 1e-9
    # the planted near-dup pair lands in a high-agreement bucket
    assert any(r["jaccard_est"] >= 0.75 and r["n_pairs"] >= 1 for r in out)


def test_rolling_active_users_window(spark, tmp_path):
    import os

    from fossil_spark.queries import analytics

    # u1 active day 1 only; u2 active day 5 only: with a 7-day window
    # day 5 counts both (u1's window spans days 1-7), day 1 only u1
    from datetime import datetime

    rows = [
        (0, datetime(2024, 1, 1, 10), 1, "view", 1.0, "{}"),
        (1, datetime(2024, 1, 5, 10), 2, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = os.path.join(str(tmp_path), "mini")
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "events.parquet"))
    out = {r["day"].day: r["n_active"] for r in
           analytics.rolling_active_users(spark, d, 7).collect()}
    assert out[1] == 1
    assert out[5] == 2
    # report days are clipped to the observed range: nothing past day 5
    assert max(out) == 5


def test_cluster_purity_separable_labels(spark):
    from fossil_spark.operators import ann

    # two tight clusters with coherent labels: k=2 recovers them and
    # purity = 1.0 in both
    rows = []
    for i in range(10):
        base = 1.0 if i % 2 else -1.0
        vec = [base + 0.001 * ((i + j) % 3) for j in range(8)]
        rows.append((i, vec, i % 2))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = ann.cluster_purity(df, k=2, n_iter=2).collect()
    assert len(out) == 2
    for r in out:
        assert r["purity"] == 1.0
        assert r["n_majority"] == r["n"] == 5


def test_split_leakage_counts_straddling_pairs(spark):
    from fossil_spark.pipelines import split_leakage

    # 6 exact near-dup pairs (2k, 2k+1 share text): every pair is a
    # candidate; the md5 split assigns sides independently, so SOME
    # cross- and SOME same-split rows must appear with full coverage
    body = " ".join(f"w{i}" for i in range(30))
    rows = []
    for k in range(6):
        rows.append((2 * k, body + f" g{k}", "s"))
        rows.append((2 * k + 1, body + f" g{k}", "s"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = split_leakage(df).collect()
    assert sum(r["n_pairs"] for r in out) >= 6
    for r in out:
        assert r["is_leak"] == (r["split_a"] != r["split_b"])


def test_skew_audit_flags_whale(spark, tmp_path):
    import os
    from datetime import datetime, timedelta

    from fossil_spark.queries import analytics

    t0 = datetime(2024, 1, 1)
    # user 7 is a whale: 90 of 100 rows; 10 singleton users
    rows = [(i, t0 + timedelta(minutes=i), 7, "view", 1.0, "{}") for i in range(90)]
    rows += [(100 + u, t0 + timedelta(hours=u), 100 + u, "view", 1.0, "{}") for u in range(10)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = os.path.join(str(tmp_path), "mini")
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "events.parquet"))
    out = analytics.skew_audit(spark, d, "user_id", 3).collect()
    top = [r for r in out if r["rank"] == 1][0]
    assert top["key_value"] == "7" and top["n_rows"] == 90
    assert top["share"] == 0.9
    # mean key weight = 100/11; whale is ~9.9x the mean
    assert abs(top["x_mean"] - 90 / (100 / 11)) < 1e-3


def test_context_budget_truncation_math(spark):
    rows = [
        (0, " ".join(["w"] * 10), "s"),   # under
        (1, " ".join(["w"] * 20), "s"),   # over by 4
        (2, " ".join(["w"] * 30), "s"),   # over by 14
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = text.context_budget(df, 16).collect()[0]
    assert r["n_docs"] == 3 and r["n_docs_over"] == 2
    assert r["p50_tokens"] == 20 and r["p95_tokens"] == 30
    assert r["n_tokens"] == 60 and r["tokens_lost"] == 18
    assert r["frac_tokens_lost"] == 0.3


def test_lang_confidence_flags_code_switching(spark):
    rows = [
        (0, "the cat and the dog is in the house for it", "s"),   # clean en
        (1, "the der cat und the dog ist in to zu house", "s"),   # mixed en/de
        (2, "xyzzy qwerty asdf zxcv", "s"),                        # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in text.lang_confidence(df).collect()}
    assert out[0]["pred_lang"] == "en" and not out[0]["is_mixed"]
    assert out[1]["is_mixed"] and out[1]["margin"] < 0.05
    # zero stopword signal: not "mixed", just unknown (top == 0)
    assert not out[2]["is_mixed"] and out[2]["top_ratio"] == 0.0


def test_curation_waterfall_stage_attribution(spark):
    from fossil_spark.pipelines import curation_waterfall

    good = ("the cat and the dog is that it for the house and the tree "
            "for a fine day in the sun and it is a good day for all")
    rows = [
        (0, good, "s"),                       # kept
        (1, good, "s"),                       # dedup (copy of 0)
        (2, "x", "s"),                        # low quality
        (3, ("der hund und die katze ist nicht ein zu mit auf haus "
             "der und die das ist nicht ein zu mit auf"), "s"),  # german
        (4, good + " email bob@example.com", "s"),  # pii (quality ok)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["stage"]: r for r in curation_waterfall(df).collect()}
    assert out["dedup"]["n_docs"] == 1
    assert out["quality"]["n_docs"] == 1
    assert out["language"]["n_docs"] == 1
    assert out["pii"]["n_docs"] == 1
    assert out["kept"]["n_docs"] == 1
    assert sum(r["n_docs"] for r in out.values()) == 5
    assert abs(sum(r["frac_docs"] for r in out.values()) - 1.0) < 1e-5


def test_top_phrases_counts_occurrences(spark):
    rows = [
        (0, "red fox red fox blue sky", "a"),
        (1, "red fox jumps", "a"),
        (2, "blue sky blue sky blue sky", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = text.top_phrases(df, k=2).collect()
    a = {r["rank"]: r for r in out if r["group"] == "a"}
    assert a[1]["phrase"] == "red fox" and a[1]["n"] == 3
    b = {r["rank"]: r for r in out if r["group"] == "b"}
    assert b[1]["phrase"] == "blue sky" and b[1]["n"] == 3


def test_winnowing_catches_shared_passage(spark):
    from fossil_spark.operators import dedup

    passage = " ".join(f"shared{i}" for i in range(12))
    rows = [
        (0, "alpha beta gamma " + passage + " delta epsilon", "s"),
        (1, "one two three four five " + passage + " six seven", "s"),
        (2, " ".join(f"noise{i}" for i in range(20)), "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = dedup.winnowing_pairs(df).collect()
    # the long shared passage GUARANTEES shared fingerprints for (0,1)
    got = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (0, 1) in got
    assert all(p in {(0, 1)} for p in got)  # noise doc pairs with no one


def test_soft_dedup_weights_effective_size(spark):
    from fossil_spark.pipelines import soft_dedup_weights

    base = "words that repeat exactly " * 6
    rows = [(i, base, "dup") for i in range(4)]          # one 4-clique
    rows += [(10 + i, f"unique text number {i} " + " ".join(
        f"t{i}{j}" for j in range(12)), "uniq") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in soft_dedup_weights(df).collect()}
    # 4 copies at weight 1/4 -> effective 1.0
    assert out["dup"]["n_docs"] == 4
    assert abs(out["dup"]["effective_docs"] - 1.0) < 1e-6
    assert out["dup"]["effective_frac"] == 0.25
    assert out["uniq"]["effective_docs"] == 3.0


def test_common_word_ratio_flags_boilerplate(spark):
    filler = "the same words again " * 8
    rows = [(i, filler, "s") for i in range(5)]
    rows.append((9, " ".join(f"rare{i}" for i in range(32)), "s"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in
           text.common_word_ratio(df, top_n=4, threshold=0.8).collect()}
    # filler docs are made ENTIRELY of the corpus top-4 words
    assert out[0]["common_ratio"] == 1.0 and out[0]["is_low_content"]
    assert not out[9]["is_low_content"]


def test_lorenz_deciles_monotone(spark, tmp_path):
    import os
    from datetime import datetime, timedelta

    from fossil_spark.queries import analytics

    t0 = datetime(2024, 1, 1)
    # 10 users, user u purchases value u+1 once: clean deciles
    rows = [(u, t0 + timedelta(hours=u), u, "purchase", float(u + 1), "{}")
            for u in range(10)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = os.path.join(str(tmp_path), "mini")
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "events.parquet"))
    out = sorted(analytics.lorenz_deciles(spark, d).collect(),
                 key=lambda r: r["decile"])
    assert len(out) == 10 and all(r["n_users"] == 1 for r in out)
    shares = [r["cum_revenue_share"] for r in out]
    assert shares == sorted(shares) and shares[-1] == 1.0
    # bottom decile = value 1 of total 55
    assert abs(shares[0] - 1 / 55) < 1e-5


def test_chi2_independent_table_near_zero(spark, tmp_path):
    import os
    from datetime import datetime, timedelta

    from fossil_spark.queries import analytics

    t0 = datetime(2024, 1, 1)
    # perfectly independent table: every (type, weekday) cell = 3
    rows = []
    eid = 0
    for d in range(7):
        for kind in ("view", "click"):
            for i in range(3):
                rows.append((eid, t0 + timedelta(days=d, minutes=i), 1,
                             kind, 1.0, "{}"))
                eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = os.path.join(str(tmp_path), "mini")
    os.makedirs(p)
    df.write.parquet(os.path.join(p, "events.parquet"))
    r = analytics.chi2_type_weekday(spark, p).collect()[0]
    assert (r["n"], r["n_rows"], r["n_cols"], r["dof"]) == (42, 2, 7, 6)
    assert r["chi2"] == 0.0 and r["cramers_v"] == 0.0


def test_dsir_weights_separate_target_domain(docs):
    """DSIR importance weights must (a) cover every doc exactly once,
    (b) score the target slice higher ON AVERAGE than the rest (its
    n-grams are by construction more likely under the target
    distribution), and (c) be reproducible run to run (md5 hashing,
    no RNG)."""
    out = text.dsir_weights(docs, F.col("lang") == F.lit("en"))
    rows = out.collect()
    assert len(rows) == docs.count()
    tgt = [r["log_weight"] for r in rows if r["in_target"]]
    rest = [r["log_weight"] for r in rows if not r["in_target"]]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)
    again = {r["doc_id"]: r["log_weight"]
             for r in text.dsir_weights(docs, F.col("lang") == F.lit("en")).collect()}
    assert all(again[r["doc_id"]] == r["log_weight"] for r in rows)


def test_dsir_weights_empty_target_slice_smoothing(spark):
    """With ZERO target docs every bucket smooths to the same tiny
    target probability 1/(0+B); weights are finite and the op does
    not divide by zero."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma", "xx"), (2, "beta gamma delta", "yy")],
        "doc_id long, text string, lang string",
    )
    rows = text.dsir_weights(df, F.col("lang") == F.lit("en")).collect()
    assert len(rows) == 2
    assert all(r["log_weight"] is not None for r in rows)
    # the DuckDB oracle must agree HERE too: sum(ct) over an empty
    # target slice is NULL in SQL, and without the coalesce every
    # oracle log_weight NULLed out while Spark stayed finite
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": [1, 2],
             "text": ["alpha beta gamma", "beta gamma delta"],
             "lang": ["xx", "yy"]}
        ),
    )
    got = (
        con.execute(entry.oracle_sql()["text_dsir_weights"])
        .fetchdf()
        .sort_values("doc_id")
    )
    assert not got["log_weight"].isna().any()
    want = {r["doc_id"]: r["log_weight"] for r in rows}
    for _, r in got.iterrows():
        assert abs(r["log_weight"] - want[r["doc_id"]]) < 1e-9


def test_dsir_select_keeps_target_heavy_top_slice(docs):
    """The selection pipeline keeps ~keep_frac of the corpus (ties at
    the threshold may add a sliver), selected docs average a higher
    weight than their source overall, and every source reports."""
    from fossil_spark import pipelines

    out = pipelines.dsir_select(
        docs, F.col("lang") == F.lit("en"), keep_frac=0.2
    ).collect()
    n = docs.count()
    n_sources = docs.select("source").distinct().count()
    assert len(out) == n_sources
    kept = sum(r["n_selected"] for r in out)
    assert kept >= int(n * 0.2) * 0.99  # at least the quota (ties add)
    assert kept <= n * 0.5  # but nothing like the whole corpus
    for r in out:
        if 0 < r["n_selected"]:
            assert r["mean_selected_weight"] >= r["mean_log_weight"]


def test_quality_deciles_matches_ntile_exactly(spark):
    """The distributed closed-form decile (range repartition +
    per-partition offsets + the SQL-standard NTILE remainder rule)
    must reproduce F.ntile(10) bit-for-bit at every awkward size:
    n < k, n = k, remainder sizes, and n >> k."""
    from pyspark.sql import Window

    for n in (1, 3, 9, 10, 11, 19, 95, 101, 111):
        df = spark.createDataFrame(
            [(i, f"w{i % 7} " * (1 + i % 13)) for i in range(n)],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["decile"]
               for r in text.quality_deciles(df).collect()}
        scored = text.quality_score(df).select("doc_id", "quality")
        w = Window.orderBy(F.col("quality"), F.col("doc_id"))
        want = {r["doc_id"]: r["d"] for r in scored.select(
            "doc_id", F.ntile(10).over(w).cast("long").alias("d")
        ).collect()}
        assert got == want, f"n={n}"


def test_kcenter_coreset_greedy_invariants(spark, emb):
    """Gonzalez greedy k-center: selection distances are
    non-increasing (each pick removes the current farthest point),
    ids are distinct, a planted far outlier is picked FIRST after the
    seed, and the trace is deterministic run to run."""
    out = ann.kcenter_select(emb, k=6).collect()
    assert [r["sel_order"] for r in out] == list(range(6))
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == 6
    d = [r["sel_d2"] for r in out]
    assert d[0] is None
    assert all(d[i] >= d[i + 1] for i in range(1, 5)), d
    # plant an outlier far outside the data ball
    dim = len(emb.first()["embedding"])
    far = spark.createDataFrame(
        [(99999, [100.0] * dim, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    out2 = ann.kcenter_select(emb.unionByName(far), k=3).collect()
    assert out2[1]["vec_id"] == 99999  # first greedy pick
    again = ann.kcenter_select(emb, k=6).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]


def test_kcenter_assign_partitions_corpus(spark, emb):
    """The coverage report must partition the corpus exactly (counts
    sum to n), every center is its own nearest center (d2 = 0 ->
    mean_d2 < max_d2 unless singleton), and the covering radius
    (max over max_d2) is no smaller than the NEXT pick's selection
    distance would have been."""
    out = ann.kcenter_assign(emb, k=5).collect()
    n = emb.count()
    assert sum(r["n_assigned"] for r in out) == n
    assert len(out) == 5
    assert {r["sel_order"] for r in out} == set(range(5))
    sel = {r["vec_id"]: r["sel_d2"] for r in ann.kcenter_select(emb, k=6).collect()}
    radius = max(r["max_d2"] for r in out)
    # the 6th greedy pick IS the farthest point from the first 5
    sixth = [d for d in sel.values() if d is not None][-1]
    assert abs(radius - sixth) < 1e-6


def test_silhouette_planted_clusters(spark):
    """Two tight, well-separated clusters labeled correctly give
    per-class silhouette near 1; relabeling half of cluster B as A
    drags A's mean silhouette negative (its centroid sits between
    the clumps)."""
    import itertools

    def blob(center, n, label, start_id):
        rows = []
        for i in range(n):
            rows.append((start_id + i,
                         [c + 0.01 * ((i * 7) % 5) for c in center], label))
        return rows

    good = blob([0.0, 0.0, 0.0], 10, 0, 0) + blob([10.0, 10.0, 10.0], 10, 1, 100)
    df = spark.createDataFrame(
        good, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in ann.silhouette(df).collect()}
    assert out[0]["mean_silhouette"] > 0.99
    assert out[1]["mean_silhouette"] > 0.99
    assert out[0]["n_vectors"] == 10
    # mislabel: half of cluster B called label 0
    bad = (blob([0.0, 0.0, 0.0], 10, 0, 0)
           + blob([10.0, 10.0, 10.0], 5, 0, 100)
           + blob([10.0, 10.0, 10.0], 5, 1, 200))
    df2 = spark.createDataFrame(
        bad, "vec_id long, embedding array<float>, label int")
    out2 = {r["label"]: r for r in ann.silhouette(df2).collect()}
    assert out2[0]["mean_silhouette"] < out[0]["mean_silhouette"]
    # the 5 mislabeled vectors sit ON label 1's centroid: their a is
    # large, b tiny -> strongly negative contributions
    assert out2[0]["mean_silhouette"] < 0.2


def test_kcenter_select_non_long_ids(spark):
    """The result schema derives the id field's type from the input
    (regression: a hardcoded `long` id field broke string ids at
    createDataFrame time)."""
    df = spark.createDataFrame(
        [(f"doc-{i}", [float(i), float(i % 3)]) for i in range(12)],
        "doc string, embedding array<float>",
    )
    out = ann.kcenter_select(df, k=4, id_col="doc").collect()
    assert [r["sel_order"] for r in out] == list(range(4))
    assert all(isinstance(r["doc"], str) for r in out)
    assert out[0]["doc"] == "doc-0"  # seed = smallest id
    assigned = ann.kcenter_assign(df, k=3, id_col="doc").collect()
    assert sum(r["n_assigned"] for r in assigned) == 12
    assert all(isinstance(r["center_id"], str) for r in assigned)


def test_kcenter_assign_fold_evaluates_distance_once(spark, emb):
    """Regression for the r9 double-eval: the per-vector assignment
    must materialize each center's d2 ONCE (transform-then-fold), not
    re-evaluate the zip_with aggregate in both the when() predicate
    and the replacement struct. With k centers the analyzed plan
    carries exactly one zip_with (inside the transform lambda); the
    old shape carried two."""
    plan = ann.kcenter_assign(emb, k=3)._jdf.queryExecution().analyzed().toString()
    assert plan.count("zip_with") == 1, plan.count("zip_with")


# --- character-trigram LM NLL (round-10 snapshot keys) -----------------------

def test_char_trigram_nll_hand_computed(spark):
    import math

    # corpus trigrams: doc1 "aaaa" -> {aaa, aaa}; doc2 "aab" -> {aab};
    # N = 3, p(aaa) = 2/3, p(aab) = 1/3
    d = spark.createDataFrame(
        [(1, "aaaa"), (2, "aab"), (3, "xy")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.char_trigram_nll(d).collect()}
    assert 3 not in out  # docs shorter than 3 chars are omitted
    assert out[1]["n_trigrams"] == 2 and out[2]["n_trigrams"] == 1
    assert out[1]["nll"] == pytest.approx(-2 * math.log(2 / 3), abs=2e-4)
    assert out[2]["nll"] == pytest.approx(math.log(3.0), abs=2e-4)
    # rarer character transitions score higher per trigram
    assert out[2]["avg_nll"] > out[1]["avg_nll"]


def test_char_trigram_nll_partitioning_invariant(docs):
    a = {r["doc_id"]: r["nll"] for r in text.char_trigram_nll(docs).collect()}
    b = {
        r["doc_id"]: r["nll"]
        for r in text.char_trigram_nll(docs.repartition(13)).collect()
    }
    assert a == b


# --- Kish effective sample size ----------------------------------------------

def test_sampling_ess_hand_computed(spark):
    # x: flat weights -> ESS = n; y: one zero -> ESS = 1 of 2;
    # z: all-zero weights -> ESS = 0 (guarded division)
    d = spark.createDataFrame(
        [("x", 1.0), ("x", 1.0), ("y", 1.0), ("y", 0.0),
         ("z", 0.0), ("z", 0.0)],
        "source string, w double",
    )
    out = {
        r["source"]: r
        for r in text.sampling_ess(d, weight=F.col("w")).collect()
    }
    assert out["x"]["ess"] == pytest.approx(2.0) and out["x"]["ess_ratio"] == 1.0
    assert out["y"]["ess"] == pytest.approx(1.0) and out["y"]["ess_ratio"] == 0.5
    assert out["z"]["ess"] == 0.0 and out["z"]["ess_ratio"] == 0.0


def test_sampling_ess_default_weight_is_clamped_quality(docs):
    # default weight = text_quality combined score clamped at 0:
    # every group ESS must then satisfy 0 <= ESS <= n
    out = text.sampling_ess(docs).collect()
    assert len(out) > 0
    for r in out:
        assert 0.0 <= r["ess"] <= r["n_docs"] + 1e-9
        assert 0.0 <= r["ess_ratio"] <= 1.0 + 1e-9


# --- Mann-Whitney / Welch / ANOVA (round-10 statistical tests) ---------------

def _md5_variant(u):
    import hashlib

    return int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:8], 16) % 2


def test_mann_whitney_hand_computed(spark, tmp_path):
    import datetime as dt
    import math

    from fossil_spark.queries.analytics import mann_whitney

    # pick users so variant A gets per-user counts {1,2,3}, B {2,4}
    a_users = [u for u in range(100) if _md5_variant(u) == 0][:3]
    b_users = [u for u in range(100) if _md5_variant(u) == 1][:2]
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u, n in list(zip(a_users, (1, 2, 3))) + list(zip(b_users, (2, 4))):
        for i in range(n):
            rows.append((eid, t0 + dt.timedelta(minutes=i), u, "click", 1.0))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = mann_whitney(spark, str(tmp_path)).collect()[0]
    # U_A over pairs: (1 vs 2,4)=0, (2 vs 2,4)=0.5, (3 vs 2,4)=1 -> 1.5
    assert (r["n_a"], r["n_b"]) == (3, 2)
    assert r["u_a"] == 1.5 and r["u_b"] == 4.5 and r["mean_u"] == 3.0
    # tie group at value 2 (t=2): sigma^2 = (6/12)*((5+1) - 6/(5*4))
    sigma = math.sqrt(3.0 / 12.0 * 2.0 * (6.0 - 6.0 / 20.0))
    assert r["z_score"] == pytest.approx((1.5 - 3.0) / sigma, abs=1e-6)
    assert not r["significant_95"]


def test_mann_whitney_detects_planted_shift(spark, tmp_path):
    import datetime as dt

    from fossil_spark.queries.analytics import mann_whitney

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(300):
        n = 10 if _md5_variant(u) else 2  # B users 5x more active
        for i in range(n):
            rows.append((eid, t0 + dt.timedelta(minutes=i), u, "c", 1.0))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = mann_whitney(spark, str(tmp_path)).collect()[0]
    assert r["significant_95"] and r["z_score"] < -10  # u_a near 0


def test_welch_t_hand_computed(spark, tmp_path):
    import datetime as dt
    import math

    from fossil_spark.queries.analytics import welch_t

    a_users = [u for u in range(100) if _md5_variant(u) == 0][:3]
    b_users = [u for u in range(100) if _md5_variant(u) == 1][:2]
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # per-user value sums: A = {1,2,3}, B = {2,4}
    for u, s in list(zip(a_users, (1.0, 2.0, 3.0))) + list(
        zip(b_users, (2.0, 4.0))
    ):
        rows.append((eid, t0, u, "c", s))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = welch_t(spark, str(tmp_path)).collect()[0]
    # mA=2 vA=1, mB=3 vB=2: t = 1/sqrt(1/3 + 1) ; df = (4/3)^2 / (1/18 + 1)
    assert (r["mean_a"], r["mean_b"]) == (2.0, 3.0)
    assert r["t_stat"] == pytest.approx(1.0 / math.sqrt(4.0 / 3.0), abs=1e-6)
    df = (4.0 / 3.0) ** 2 / ((1.0 / 3.0) ** 2 / 2 + 1.0)
    assert r["df"] == pytest.approx(df, abs=0.01)
    assert not r["significant_95"]


def test_anova_hand_computed(spark, monkeypatch):
    import fossil_spark.queries.analytics as mod

    o = spark.createDataFrame(
        [("P1", 1.0), ("P1", 2.0), ("P1", 3.0),
         ("P2", 2.0), ("P2", 4.0), ("P2", 6.0)],
        "o_orderpriority string, o_totalprice double",
    )
    monkeypatch.setattr(mod, "read_table", lambda s, d, t: o)
    r = mod.anova_priority(spark, "x").collect()[0]
    # S1 = (6, 12), S2 = (14, 56): SSB = 60 - 54 = 6, SSW = 70 - 60 = 10
    assert (r["k_groups"], r["n"]) == (2, 6)
    assert r["ss_between"] == pytest.approx(6.0)
    assert r["ss_within"] == pytest.approx(10.0)
    assert r["f_stat"] == pytest.approx((6.0 / 1.0) / (10.0 / 4.0), abs=1e-6)
    assert r["eta_squared"] == pytest.approx(6.0 / 16.0, abs=1e-6)


# --- IDF outlier detector -----------------------------------------------------

def test_idf_outliers_hand_computed(spark):
    import math

    # 4 docs; "common" in all 4 (idf=0), "rare" in doc 4 only (idf=ln4)
    d = spark.createDataFrame(
        [(1, "common a"), (2, "common a"), (3, "common a"),
         (4, "common rare")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in __import__(
        "fossil_spark.operators.text", fromlist=["text"]
    ).idf_outliers(d).collect()}
    # doc1-3: tokens {common, a}; idf(common)=ln(1)=0, idf(a)=ln(4/3)
    mi_123 = (0.0 + math.log(4.0 / 3.0)) / 2
    mi_4 = (0.0 + math.log(4.0)) / 2
    for i in (1, 2, 3):
        assert out[i]["mean_idf"] == pytest.approx(mi_123, abs=1e-5)
        assert out[i]["n_terms"] == 2
    assert out[4]["mean_idf"] == pytest.approx(mi_4, abs=1e-5)
    # doc4 is the high-rarity outlier: max positive z
    assert out[4]["idf_z"] > 0 > out[1]["idf_z"]


def test_idf_outliers_repetition_invariant(spark):
    # distinct-token IDF: repeating a token must not move the score
    d = spark.createDataFrame(
        [(1, "x y z"), (2, "x x x x y z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.idf_outliers(d).collect()}
    assert out[1]["mean_idf"] == out[2]["mean_idf"]
    assert out[1]["n_terms"] == out[2]["n_terms"] == 3


# --- experimentation suite: SRM / CUPED / power -------------------------------

def test_srm_balanced_vs_broken(spark, tmp_path):
    import datetime as dt

    from fossil_spark.queries.analytics import srm_check

    t0 = dt.datetime(2024, 1, 1)
    # balanced by construction: exactly 200 users from each variant
    a_users = [u for u in range(2000) if _md5_variant(u) == 0][:200]
    b_users = [u for u in range(2000) if _md5_variant(u) == 1][:200]
    rows = [(i, t0, u, "c", 1.0)
            for i, u in enumerate(a_users + b_users)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = srm_check(spark, str(tmp_path)).collect()[0]
    assert (r["n_a"], r["n_b"]) == (200, 200)
    assert r["chi2"] == 0.0 and not r["srm_detected"]
    # broken: 90% of variant B lost -> chi2 blows past 3.841
    rows = [(i, t0, u, "c", 1.0)
            for i, u in enumerate(a_users + b_users[:20])]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = srm_check(spark, str(tmp_path)).collect()[0]
    assert r["srm_detected"] and r["chi2"] > 3.841


def test_cuped_planted_covariate(spark, tmp_path):
    """Post metric = pre metric exactly (perfect covariate): theta = 1,
    var_reduction = 1, and the CUPED effect collapses to ~0 noise
    around the raw effect minus the pre-period imbalance."""
    import datetime as dt

    from fossil_spark.queries.analytics import cuped

    pre_t = dt.datetime(2024, 1, 1)
    post_t = dt.datetime(2024, 1, 21)
    rows, eid = [], 0
    for u in range(200):
        v = float(10 + (u % 7))
        rows.append((eid, pre_t, u, "c", v)); eid += 1
        rows.append((eid, post_t, u, "c", v)); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = cuped(spark, str(tmp_path)).collect()[0]
    assert r["theta"] == pytest.approx(1.0, abs=1e-6)
    assert r["var_reduction"] == pytest.approx(1.0, abs=1e-6)
    # y - x is constant 0 per user: adjusted effect must be exactly 0
    assert r["effect_cuped"] == pytest.approx(0.0, abs=1e-6)


def test_power_analysis_hand_computed(spark, tmp_path):
    import datetime as dt
    import math

    from fossil_spark.queries.analytics import power_analysis

    t0 = dt.datetime(2024, 1, 1)
    # per-user sums: {1, 2, 3, 4} -> mu 2.5, s2 = 5/3
    rows = [(u, t0, u, "c", float(u + 1)) for u in range(4)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = power_analysis(spark, str(tmp_path)).collect()[0]
    s2 = 5.0 / 3.0
    zsum = 1.959964 + 0.841621
    mde = zsum * math.sqrt(s2 * 2.0 / 2.0)
    assert r["n_users"] == 4
    assert r["mean_metric"] == 2.5
    assert r["sd_metric"] == pytest.approx(math.sqrt(s2), abs=1e-5)
    assert r["mde_abs"] == pytest.approx(mde, abs=1e-5)
    n_req = s2 * 2.0 * zsum * zsum / ((2.5 * 0.02) ** 2)
    assert r["n_per_arm_2pct"] == math.ceil(n_req)


def test_welch_t_singleton_variant_yields_null(spark, tmp_path):
    """One user in a variant: the n-1 variance denominator is 0 —
    must yield a NULL t (the oracle's NULL-on-zero semantics), not an
    ANSI DIVIDE_BY_ZERO crash (review regression)."""
    import datetime as dt

    from fossil_spark.queries.analytics import welch_t

    a_users = [u for u in range(100) if _md5_variant(u) == 0][:1]
    b_users = [u for u in range(100) if _md5_variant(u) == 1][:3]
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, u, "c", float(i + 1))
            for i, u in enumerate(a_users + b_users)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = welch_t(spark, str(tmp_path)).collect()[0]
    assert (r["n_a"], r["n_b"]) == (1, 3)
    assert r["t_stat"] is None and r["df"] is None


def test_anova_single_group_yields_null_f(spark, monkeypatch):
    import fossil_spark.queries.analytics as mod

    o = spark.createDataFrame(
        [("P1", 1.0), ("P1", 2.0), ("P1", 3.0)],
        "o_orderpriority string, o_totalprice double",
    )
    monkeypatch.setattr(mod, "read_table", lambda s, d, t: o)
    r = mod.anova_priority(spark, "x").collect()[0]
    assert r["k_groups"] == 1 and r["f_stat"] is None


def test_tokenizer_fertility_hand_computed(spark):
    """With zero merges every in-vocab word costs len(chars)+1 pieces
    ('</w>'), so fertility is exactly (sum(len)+n)/n per source; an
    all-ASCII corpus has zero OOV."""
    d = spark.createDataFrame(
        [(1, "aa bbb", "s1"), (2, "cccc", "s1"), (3, "dd dd", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in text.tokenizer_fertility(
        d, n_merges=0).collect()}
    # s1 words: aa(3), bbb(4), cccc(5) -> 12/3; s2: dd(3), dd(3) -> 6/2
    assert out["s1"]["n_words"] == 3
    assert out["s1"]["n_bpe_tokens"] == 12
    assert out["s1"]["fertility"] == pytest.approx(4.0)
    assert out["s2"]["fertility"] == pytest.approx(3.0)
    assert out["s1"]["oov_rate"] == 0.0 and out["s2"]["oov_rate"] == 0.0


def test_tokenizer_fertility_merges_reduce(spark, docs):
    """More merges can only shrink (or hold) total BPE tokens."""
    f0 = {r["source"]: r["n_bpe_tokens"]
          for r in text.tokenizer_fertility(docs, n_merges=0).collect()}
    f5 = {r["source"]: r["n_bpe_tokens"]
          for r in text.tokenizer_fertility(docs, n_merges=5).collect()}
    assert set(f0) == set(f5)
    for s in f0:
        assert f5[s] <= f0[s]


# --- two-stage retrieval (BQ shortlist -> exact rerank) -----------------------

def test_two_stage_rerank_dominates_bq(spark, emb):
    from fossil_spark.operators.ann import bq_recall, two_stage_recall

    probes = emb.filter("vec_id < 6")
    out = {r["method"]: r for r in two_stage_recall(
        emb, probes, k=5, shortlist=20).collect()}
    assert set(out) == {"bq64", "bq64_rerank20"}
    bq, rr = out["bq64"], out["bq64_rerank20"]
    assert bq["n_true"] == rr["n_true"]
    # the rerank can only improve on (or match) the raw BQ cut, and a
    # shortlist of the whole corpus would be exact: recall <= 1
    assert rr["recall_at_k"] >= bq["recall_at_k"]
    assert rr["recall_at_k"] <= 1.0
    # stage-1 row must equal the standalone bq_recall audit exactly
    solo = bq_recall(emb, probes, k=5).collect()[0]
    assert (solo["n_hits"], solo["recall_at_k"]) == (
        bq["n_hits"], bq["recall_at_k"])


def test_two_stage_full_shortlist_is_exact(spark, emb):
    """shortlist = corpus size makes stage 2 brute force: recall 1."""
    from fossil_spark.operators.ann import two_stage_recall

    small = emb.filter("vec_id < 40")
    out = {r["method"]: r for r in two_stage_recall(
        small, small.filter("vec_id < 4"), k=3, shortlist=39).collect()}
    assert out["bq64_rerank39"]["recall_at_k"] == 1.0
    assert out["bq64_rerank39"]["min_query_recall"] == 1.0


def test_two_stage_shortlist_smaller_than_k_rejected(spark, emb):
    from fossil_spark.operators.ann import two_stage_recall

    with pytest.raises(ValueError):
        two_stage_recall(emb, emb.filter("vec_id < 2"), k=5, shortlist=3)


def test_bq_dim_guard_covers_both_callers(spark, emb):
    from fossil_spark.operators.ann import bq_recall, two_stage_recall

    probes = emb.filter("vec_id < 2")
    with pytest.raises(ValueError):
        bq_recall(emb, probes, dim=80)
    with pytest.raises(ValueError):
        two_stage_recall(emb, probes, dim=80)
