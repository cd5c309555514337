"""Property tests for the non-SQL-expressible ops (simhash, ANN-LSH) and
sanity checks on the dedup family."""

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_retail_sales_data_spark.operators import dedup as D
from etl_pipeline_for_retail_sales_data_spark.operators import similarity as SIM


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_finds_copies(spark):
    docs = _docs(
        spark,
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
    )
    out = {r.canonical_doc_id: r.n_copies for r in D.doc_dedup_exact(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_jaccard_identical_docs_is_one(spark):
    docs = _docs(
        spark,
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
    )
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert len(pairs) == 1
    assert pairs[0].doc_a == 1 and pairs[0].doc_b == 2
    assert pairs[0].jaccard == 1.0


def test_minhash_identical_docs_full_match(spark):
    docs = _docs(
        spark,
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
    )
    cands = D.minhash_candidates(docs).collect()
    exact = [c for c in cands if c.doc_a == 1 and c.doc_b == 2]
    assert len(exact) == 1 and exact[0].n_equal == 16 and exact[0].est_jaccard == 1.0


def test_simhash_similar_docs_close(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = _docs(
        spark,
        [
            (1, base),
            (2, base + "extra token"),  # near-dup
            (3, "completely different content about spark engines and parquet files"),
        ],
    )
    sigs = {r.doc_id: r.simhash for r in D.simhash_64(docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])
    assert hamming(sigs[1], sigs[2]) <= 8


def test_ann_lsh_recall_vs_bruteforce(spark, sf_smoke):
    """LSH with 8 planes must recover a reasonable fraction of the true
    top-5 (recall depends on bucket collisions; assert a floor)."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    exact = QUERIES["knn_bruteforce"](spark, sf_smoke).collect()
    approx = QUERIES["ann_lsh"](spark, sf_smoke).collect()
    truth = {(r.q_id, r.neighbor_id) for r in exact}
    found = {(r.q_id, r.neighbor_id) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.2, f"LSH recall {recall} collapsed"
    # every LSH result scores correctly (subset check against cosine order)
    assert all(r.rnk >= 1 for r in approx)


def test_multimodal_stub_raises(spark):
    from etl_pipeline_for_retail_sales_data_spark.operators import multimodal as MM

    docs = _docs(spark, [(1, "hello world")])
    media = MM.attach_binary(docs)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        MM.decode_media(media).collect()


def test_embed_neardup_lsh_recall(spark, sf_smoke):
    """LSH near-dup must recover most exact pairs at the same threshold,
    and every pair it emits must be a true pair (precision 1.0 — the
    final cosine filter is exact)."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    exact_sims = {
        (r.id_a, r.id_b): r.sim for r in QUERIES["embed_neardup_exact"](spark, sf_smoke).collect()
    }
    approx = {(r.id_a, r.id_b): r.sim for r in QUERIES["embed_neardup_lsh"](spark, sf_smoke).collect()}
    # precision: every emitted pair is at/above threshold (ulp tolerance —
    # the numpy-scored path may differ from the sequential fold in the
    # last bits, so compare values, not set membership)
    for pair, sim in approx.items():
        assert sim >= 0.35 - 1e-6, (pair, sim)
        if pair in exact_sims:
            assert abs(sim - exact_sims[pair]) < 1e-6, pair
    interior = {p for p, s in exact_sims.items() if s >= 0.35 + 1e-6}
    if interior:
        recall = len(interior & set(approx)) / len(interior)
        assert recall >= 0.5, f"neardup LSH recall {recall} collapsed"


def test_knn_ivf_recall(spark, sf_smoke):
    """IVF with nprobe=3 of 10 lists must recover a reasonable fraction of
    the true top-5; every emitted neighbor must carry its exact cosine."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES

    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    exact = QUERIES["knn_bruteforce"](spark, sf_smoke).collect()
    approx = SIM.knn_ivf(emb, F.col("vec_id") < 10, k=5, nprobe=3).collect()
    truth = {(r.q_id, r.neighbor_id) for r in exact}
    found = {(r.q_id, r.neighbor_id) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.3, f"IVF recall {recall} collapsed"
    exact_sims = {(r.q_id, r.neighbor_id): r.sim for r in exact}
    for r in approx:
        if (r.q_id, r.neighbor_id) in exact_sims:
            assert abs(r.sim - exact_sims[(r.q_id, r.neighbor_id)]) < 1e-9


def test_approx_aggregates_accuracy(spark, sf_smoke):
    """The query itself now carries the bounded-error contract: exact
    counts plus within-bound booleans that must all be TRUE (the DuckDB
    oracle asserts the same). Cross-check the exact counts here."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES
    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table
    from pyspark.sql import functions as F2

    approx = {r.l_returnflag: r for r in QUERIES["approx_aggregates"](spark, sf_smoke).collect()}
    li = load_table(spark, sf_smoke, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(F2.countDistinct("l_partkey").alias("parts"))
        .collect()
    }
    for flag, e in exact.items():
        a = approx[flag]
        assert a.exact_parts == e.parts
        assert a.parts_within_10pct and a.supps_within_10pct and a.p50_within_1pct


def test_simhash_candidates_find_neardups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = _docs(
        spark,
        [
            (1, base),
            (2, base + "extra token"),
            (3, "completely different content about spark engines and parquet files"),
        ],
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in D.simhash_candidates(docs, max_hamming=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 8
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_freq_items_superset(spark, sf_smoke):
    """freqItems guarantees: every item with true frequency >= support
    appears in the result (false positives allowed, no false negatives)."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES
    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    li = load_table(spark, sf_smoke, "lineitem")
    n = li.count()
    support = 0.001
    truly_frequent = {
        r.l_partkey
        for r in li.groupBy("l_partkey").count().filter(F.col("count") >= n * support).collect()
    }
    sketch = set(li.freqItems(["l_partkey"], support=support).collect()[0][0])
    assert truly_frequent <= sketch
    # and the registry's invariant frame asserts the same guarantee
    inv = QUERIES["freq_items_parts"](spark, sf_smoke).collect()[0]
    assert inv.all_true_heavy_found and inv.sketch_items_exist_in_data


def test_stratified_sample_fractions(spark, sf_smoke):
    """sampleBy must hit each class's requested fraction within tolerance
    and never emit rows from outside the fraction map."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import QUERIES
    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    docs = load_table(spark, sf_smoke, "documents")
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sample = QUERIES["stratified_sample"](spark, sf_smoke).collect()
    by_lang = {}
    for r in sample:
        by_lang[r.lang] = by_lang.get(r.lang, 0) + 1
    fractions = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0, "it": 1.0}
    for lang, frac in fractions.items():
        if lang not in totals:
            continue
        got = by_lang.get(lang, 0) / totals[lang]
        assert abs(got - frac) < 0.35, (lang, got, frac)  # Bernoulli tolerance
    assert set(by_lang) <= set(fractions)


def test_jaccard_max_df_cap(spark):
    """With a generous cap the capped variant equals the exact one; with a
    tight cap, jaccard only ever decreases (undercount, never overcount)."""
    docs = _docs(
        spark,
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "a b c x y z w v"),
        ],
    )
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    loose = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.0, max_df=100).collect()}
    assert loose == exact
    tight = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.0, max_df=2).collect()}
    for pair, j in tight.items():
        assert j <= exact[pair] + 1e-12


def test_jaccard_max_df_bounds_fanout(spark):
    """The skew guarantee behind the corpus pipeline's default cap: after
    the max_df gate, NO shingle survives with document frequency above
    the cap, so every per-shingle join fan-out is <= max_df² pairs. A
    planted stop-phrase shared by every doc must contribute zero join
    rows; the planted rare near-dup pair must still be found."""
    stop = "the same header on every page "
    docs = _docs(
        spark,
        [(i, stop + f"unique filler {i} content block {i * 7}") for i in range(1, 9)]
        + [(100, stop + "rare shared tail marker alpha beta"),
           (101, stop + "rare shared tail marker alpha beta")],
    )
    max_df = 3
    sh = D.doc_shingles_arrow(docs, "text", 3, with_size=True)
    from pyspark.sql import functions as F2

    rare = (
        sh.groupBy("shingle").agg(F2.count("*").alias("df"))
        .filter(F2.col("df") <= max_df)
    )
    surviving_max = rare.agg(F2.max("df")).collect()[0][0]
    assert surviving_max <= max_df
    capped = D.ngram_jaccard_pairs(docs, threshold=0.3, max_df=max_df).collect()
    found = {(r.doc_a, r.doc_b) for r in capped}
    assert (100, 101) in found  # rare near-dup survives the cap


def test_schema_evolution_merge(spark, tmp_path):
    """Parquet schema evolution: files written with an extended schema
    merge with old files (mergeSchema), and frames with differing columns
    union with allowMissingColumns — the 100 TB reality of append-only
    datasets whose schema grows over time."""
    out = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v1.write.mode("append").parquet(out)
    v2 = spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double")
    v2.write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}

    u = v1.unionByName(v2, allowMissingColumns=True)
    assert set(u.columns) == {"id", "name", "score"}
    assert u.count() == 2


def test_ml_minhash_agrees_with_exact_jaccard(spark, sf_smoke):
    """Every pair MLlib's MinHashLSH verifies must carry the exact 1-gram
    token-set Jaccard distance: cross-check against the hand-built
    inverted-index operator on the same pairs."""
    from etl_pipeline_for_retail_sales_data_spark.operators.ml_interop import (
        ml_minhash_pairs,
    )
    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    docs = load_table(spark, sf_smoke, "documents")
    ml = {(r.doc_a, r.doc_b): r.jaccard_dist for r in ml_minhash_pairs(docs, 0.95).collect()}
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, n=1, threshold=0.0, max_df=None).collect()
    }
    assert ml, "ML LSH found no candidate pairs at all"
    for pair, dist in ml.items():
        if pair in exact:
            assert abs((1.0 - dist) - exact[pair]) < 1e-5, (pair, dist, exact[pair])


def test_arrow_signature_path_equals_expression_path(spark, sf_smoke):
    # the Arrow fast paths must be BIT-identical to the JVM expression
    # forms (same md5 bytes, same lexicographic min, same shingle sets) —
    # they share the downstream DuckDB oracles.
    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    docs = load_table(spark, sf_smoke, "documents")
    expr_sig = sorted(map(tuple, D.minhash_signatures(docs).collect()))
    arrow_sig = sorted(map(tuple, D.minhash_signatures_arrow(docs).collect()))
    assert expr_sig == arrow_sig

    expr_sh = sorted(map(tuple, D.doc_shingles(docs, distinct=True).collect()))
    arrow_sh = sorted(map(tuple, D.doc_shingles_arrow(docs).collect()))
    assert expr_sh == arrow_sh


def test_doc_shingle_arrays_equal_grouped_explode(spark, sf_smoke):
    # r12: ppjoin's verify arrays are computed map-only per document
    # (doc_shingle_arrays) — must equal array_sort(collect_list(shingle))
    # + the distinct count over the exploded Arrow frame they replaced
    from pyspark.sql import functions as F

    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    docs = load_table(spark, sf_smoke, "documents")
    direct = sorted(
        (r["doc_id"], tuple(r["toks"]), r["n_sh"])
        for r in D.doc_shingle_arrays(docs, "text", 3).collect()
    )
    grouped = sorted(
        (r["doc_id"], tuple(r["toks"]), r["n_sh"])
        for r in D.doc_shingles_arrow(docs, "text", 3, with_size=True)
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list("shingle")).alias("toks"),
            F.first("n_sh").alias("n_sh"),
        )
        .collect()
    )
    assert direct == grouped
    # edge docs: < n tokens → no row (same as the exploded frame)
    short = _docs(spark, [(1, "one two"), (2, "three whole tokens here")])
    assert D.doc_shingle_arrays(short, "text", 3).count() == 1


def test_arrow_paths_on_edge_docs(spark):
    # short docs (< n tokens) drop out of both paths identically; empty ok
    docs = _docs(spark, [(1, "one"), (2, "two words"), (3, "three whole tokens here")])
    assert D.minhash_signatures_arrow(docs).count() == 1
    assert D.doc_shingles_arrow(docs).count() == 2
    empty = _docs(spark, [])
    assert D.minhash_signatures_arrow(empty).count() == 0
    assert D.doc_shingles_arrow(empty).count() == 0


def test_connected_components_chain_and_singleton(spark):
    # chain 1-2-3-4 (diameter 3, needs multiple propagation rounds),
    # separate pair 10-11, singleton 20
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.component_id for r in D.connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_empty_edges(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    out = {r.doc_id: r.component_id for r in D.connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 2}


def test_knn_arrow_path_equals_expression_path(spark, sf_smoke):
    """The Arrow knn hot path (np.cumsum sequential fold) must be
    BIT-identical to the JVM expression twin — same ranks, same rounded
    sims — because they share the DuckDB oracle."""
    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    expr = sorted(map(tuple, SIM.knn_bruteforce_expr(emb, F.col("vec_id") < 10, k=5).collect()))
    arrow = sorted(map(tuple, SIM.knn_bruteforce(emb, F.col("vec_id") < 10, k=5).collect()))
    assert expr == arrow


def test_knn_empty_query_set_returns_empty(spark, sf_smoke):
    """An empty query_filter must yield an empty result of the declared
    schema on BOTH paths — not an executor np.concatenate crash."""
    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    arrow = SIM.knn_bruteforce(emb, F.col("vec_id") < 0, k=5)
    assert arrow.count() == 0
    assert [f.name for f in arrow.schema.fields] == ["q_id", "neighbor_id", "sim", "rnk"]
    expr = SIM.knn_bruteforce_expr(emb, F.col("vec_id") < 0, k=5)
    assert expr.count() == 0
    assert [(f.name, f.dataType) for f in arrow.schema.fields] == [
        (f.name, f.dataType) for f in expr.schema.fields
    ]


def test_knn_query_cap_raises(spark, sf_smoke):
    """The driver-side query collect is bounded: a filter selecting more
    than max_queries rows raises instead of pulling the corpus onto the
    driver (the limit() bounds the transfer structurally)."""
    import pytest

    from etl_pipeline_for_retail_sales_data_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    with pytest.raises(ValueError, match="max_queries"):
        SIM.knn_bruteforce(emb, F.lit(True), k=5, max_queries=10)


def test_salted_jaccard_equals_uncapped_exact(spark):
    """The salted skew path is EXACT: identical pairs and jaccard values
    to ngram_jaccard_pairs(max_df=None) at the default p99 hot_df, with
    hot_df low enough that the salted path actually runs (the shared
    stop-phrase prefix is hot for every doc)."""
    stop = "the quick brown fox jumps over the lazy dog again and again "
    docs = _docs(
        spark,
        [(i, stop + f"unique filler {i} content block {i * 7}") for i in range(1, 9)]
        + [(100, stop + "rare shared tail marker alpha beta"),
           (101, stop + "rare shared tail marker alpha beta")],
    )
    exact = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, max_df=None).collect()
    }
    salted = {
        (r.doc_a, r.doc_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.0, max_df=None, hot_df=3, n_salts=4
        ).collect()
    }
    assert salted == exact and len(exact) > 0


def test_exact_form_forwards_salt_kwargs(spark):
    """ngram_jaccard_pairs(max_df=None) passes hot_df/n_salts through to
    the salted join: an integer hot_df both keeps plan construction
    fully lazy (no p99 probe job) and produces the same exact output."""
    stop = "the quick brown fox jumps over the lazy dog again and again "
    docs = _docs(
        spark,
        [(i, stop + f"unique filler {i} content block {i * 7}") for i in range(1, 7)]
        + [(100, stop + "rare shared tail marker alpha beta"),
           (101, stop + "rare shared tail marker alpha beta")],
    )
    ref = {
        (r.doc_a, r.doc_b): (r.n_inter, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, max_df=None).collect()
    }
    tracker = spark.sparkContext.statusTracker()
    # count job ids above the last one seen: the status store keeps only
    # the newest spark.ui.retainedJobs, so list lengths can shrink
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    fwd_df = D.ngram_jaccard_pairs(
        docs, threshold=0.0, max_df=None, hot_df=3, n_salts=4
    )
    new_jobs = [j for j in tracker.getJobIdsForGroup(None) if j > last]
    assert new_jobs == []  # integer hot_df: no probe job
    fwd = {(r.doc_a, r.doc_b): (r.n_inter, r.jaccard) for r in fwd_df.collect()}
    assert fwd == ref and len(ref) > 0


def test_salted_jaccard_bounds_per_key_fanout(spark):
    """With hot_df=h and n_salts=g, no (shingle, salt) reduce key on the
    hot path carries more than ceil(d_max/g) left rows — the d² fan-out
    of a hot shingle spreads over g keys instead of pinning one."""
    stop = "common shared phrase repeated across every document here "
    n_docs, g, h = 24, 4, 3
    docs = _docs(
        spark, [(i, stop + f"tail {i} word {i * 13}") for i in range(n_docs)]
    )
    sh = D.doc_shingles_arrow(docs, "text", 3, with_size=True)
    hot = (
        sh.groupBy("shingle").agg(F.count("*").alias("df"))
        .filter(F.col("df") > h)
    )
    sh_hot = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_semi")
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(g)).cast("int")
    per_key = (
        sh_hot.select("shingle", salt.alias("salt"))
        .groupBy("shingle", "salt")
        .agg(F.count("*").alias("n_left"))
        .agg(F.max("n_left").alias("mx"))
        .collect()[0]
    )
    d_max = hot.agg(F.max("df")).collect()[0][0]
    assert d_max == n_docs  # the stop phrase really is corpus-wide hot
    # xxhash64 spreads 24 sequential ids over 4 salts; bound is loose
    # (2x balanced) but proves no single key keeps the full posting list
    assert per_key.mx < d_max
    assert per_key.mx <= 2 * ((d_max + g - 1) // g)


# ---------------------------------------------------------------------------
# MMR diversified retrieval
# ---------------------------------------------------------------------------


def _emb_frame(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_mmr_first_pick_is_relevance_argmax(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    mmr = SIM.mmr_topk(emb, F.col("vec_id") < 5, k=3, n_candidates=10)
    knn = SIM.knn_bruteforce_expr(emb, F.col("vec_id") < 5, k=1)
    first = {r["q_id"]: r["doc_id"] for r in mmr.filter("rnk = 1").collect()}
    top1 = {r["q_id"]: r["neighbor_id"] for r in knn.collect()}
    assert first == top1


def test_mmr_structure_and_determinism(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    out1 = SIM.mmr_topk(emb, F.col("vec_id") < 5, k=4, n_candidates=12).collect()
    out2 = SIM.mmr_topk(emb, F.col("vec_id") < 5, k=4, n_candidates=12).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    per_q = {}
    for r in out1:
        per_q.setdefault(r["q_id"], []).append(r)
    for q_id, rows in per_q.items():
        assert sorted(r["rnk"] for r in rows) == list(range(1, len(rows) + 1))
        ids = [r["doc_id"] for r in rows]
        assert len(set(ids)) == len(ids)
        assert q_id not in ids


def test_mmr_skips_near_duplicate_that_topk_keeps(spark):
    # docs 1,2 point the same way (near-dups of each other, NOT of the
    # query — a first pick parallel to the query would make every
    # round-2 margin rel - maxsim collapse to ~0); doc 3 is slightly
    # less relevant but diverse. Plain top-2 returns the two dups; MMR
    # at lam=0.5 takes doc 1 then skips its copy for doc 3:
    #   rel = (0.900, 0.897, 0.880), sim(2,1) = 0.999, sim(3,1) = 0.585
    #   round 2: score(2) = -0.051 < score(3) = +0.148
    vecs = [
        [1.0, 0.0, 0.0, 0.0],        # 0: query
        [0.9, 0.43589, 0.0, 0.0],    # 1: relevant
        [0.88, 0.43, 0.05, 0.0],     # 2: near-dup of doc 1
        [0.88, -0.475, 0.0, 0.0],    # 3: relevant but diverse from doc 1
    ]
    emb = _emb_frame(spark, vecs)
    knn2 = {r["neighbor_id"] for r in
            SIM.knn_bruteforce_expr(emb, F.col("vec_id") == 0, k=2).collect()}
    assert knn2 == {1, 2}
    mmr = SIM.mmr_topk(emb, F.col("vec_id") == 0, k=2, n_candidates=3, lam=0.5)
    picked = {r["rnk"]: r["doc_id"] for r in mmr.collect()}
    assert picked[1] in (1, 2)
    assert picked[2] == 3


def test_mmr_fewer_candidates_than_k(spark):
    # 3-vector corpus, k=5: each query has only 2 candidates → 2 rows out
    vecs = [[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]]
    emb = _emb_frame(spark, vecs)
    out = SIM.mmr_topk(emb, F.col("vec_id") == 0, k=5, n_candidates=10).collect()
    assert sorted(r["rnk"] for r in out) == [1, 2]


def test_bq_hamming_pigeonhole_guarantee(spark, sf_smoke):
    """Multi-probe MIH coverage: with 8 bands of 8 bits and probe radius
    1, any corpus vector within total Hamming distance 15 of a query MUST
    be a candidate (a miss needs >= 2 differing bits in EVERY band). So
    the BQ top-k can never omit a true neighbor whose Hamming distance is
    <= 15 while ranking anyone below it."""
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    qf = F.col("vec_id") < 10
    sig = SIM.binary_quantize(emb)
    q = sig.filter(qf).select(
        F.col("vec_id").alias("q_id"), *[F.col(f"band{j}").alias(f"qb{j}") for j in range(8)]
    )
    ham = None
    for j in range(8):
        h = F.bit_count(F.col(f"qb{j}").bitwiseXOR(F.col(f"band{j}")))
        ham = h if ham is None else ham + h
    close = (
        sig.crossJoin(q)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"), ham.alias("hd"))
        .filter(F.col("hd") <= 15)
        .collect()
    )
    cand = {
        (r.q_id, r.neighbor_id)
        for r in SIM.bq_hamming_topk(emb, qf, k=10**9).collect()
    }
    for r in close:
        assert (r.q_id, r.neighbor_id) in cand, (
            f"pigeonhole violated: ({r.q_id},{r.neighbor_id}) at hamming {r.hd} missed"
        )


def test_bq_recall_floor_and_subset(spark, sf_smoke):
    """BQ top-5 recall vs exact kNN holds a floor on the smoke corpus, and
    every BQ hit carries the same sim the exact ranking assigns (the
    rerank is exact cosine, so intersecting pairs agree exactly)."""
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    qf = F.col("vec_id") < 10
    exact = SIM.knn_bruteforce_expr(emb, qf, k=5).collect()
    approx = SIM.bq_hamming_topk(emb, qf, k=5).collect()
    truth = {(r.q_id, r.neighbor_id) for r in exact}
    found = {(r.q_id, r.neighbor_id) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.3, f"BQ recall {recall} collapsed"
    sims_exact = {(r.q_id, r.neighbor_id): r.sim for r in exact}
    for r in approx:
        key = (r.q_id, r.neighbor_id)
        if key in sims_exact:
            assert r.sim == sims_exact[key]
        assert 0 <= r.hamming <= 64


def test_shingle_cosine_catches_repetition_inflation(spark):
    """The motivating property vs Jaccard: a doc that hammers ONE phrase
    among otherwise-identical content keeps a high shingle-SET overlap
    (Jaccard) while its tf vector swings toward the repeated phrase
    (cosine drops); identical docs score 1.0 on both."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(
        spark,
        [(1, base), (2, base), (3, base + " " + "alpha beta gamma " * 20)],
    )
    jac = {(r.doc_a, r.doc_b): r.jaccard
           for r in D.ngram_jaccard_pairs(docs, threshold=0.0, max_df=None).collect()}
    cos = {(r.doc_a, r.doc_b): r.cosine
           for r in D.shingle_cosine_pairs(docs, threshold=0.0, max_df=None).collect()}
    assert cos[(1, 2)] == 1.0
    assert jac[(1, 3)] >= 0.5  # set overlap stays high
    assert cos[(1, 3)] < 0.4 < jac[(1, 3)]  # tf direction diverges


def test_shingle_cosine_max_df_is_lower_bound(spark, sf_smoke):
    """Dropping capped shingles only removes numerator terms: every capped
    score is <= its exact twin, and no new pairs appear."""
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    exact = {(r.doc_a, r.doc_b): r.cosine
             for r in D.shingle_cosine_pairs(docs, threshold=0.3, max_df=None).collect()}
    capped = {(r.doc_a, r.doc_b): r.cosine
              for r in D.shingle_cosine_pairs(docs, threshold=0.3, max_df=64).collect()}
    assert set(capped) <= set(exact)
    for k, v in capped.items():
        assert v <= exact[k] + 1e-12


def test_rrf_fuses_both_legs(spark, sf_smoke):
    """RRF output: scores are exactly 1/(60+lex)+1/(60+vec) with absent
    legs contributing 0, ranks are dense from 1, and the top result
    appears in at least one leg's pool."""
    from etl_pipeline_for_retail_sales_data_spark.operators.retrieval import (
        rrf_hybrid_search,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    out = rrf_hybrid_search(docs, emb, ["join", "vector", "data"], query_vec_id=7).collect()
    assert [r.rnk for r in out] == list(range(1, len(out) + 1))
    import math

    for r in out:
        expect = (1.0 / (60 + r.lex_rnk) if r.lex_rnk is not None else 0.0) + (
            1.0 / (60 + r.vec_rnk) if r.vec_rnk is not None else 0.0
        )
        assert math.isclose(r.rrf_score, math.floor(expect * 1e6 + 0.5) / 1e6)
        assert r.lex_rnk is not None or r.vec_rnk is not None


def test_winnowing_guarantee_shared_run_collides(spark):
    """The winnowing guarantee (k=3, w=4): any shared token run of length
    >= k+w-1 = 6 forces at least one identical selected fingerprint in
    both docs — even when the docs are otherwise disjoint."""
    shared = "one two three four five six"  # exactly 6 shared tokens
    docs = _docs(
        spark,
        [
            (1, "aa bb cc dd " + shared + " ee ff gg hh"),
            (2, "zz yy xx ww vv " + shared + " uu tt ss rr qq"),
            (3, "pp oo nn mm ll kk jj ii"),  # no shared run with 1/2
        ],
    )
    fp = D.winnowing_fingerprints(docs)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-token run produced no common fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_with_size_matches_grouped_counts(spark):
    """r11: with_size=True rides the per-doc DISTINCT fingerprint count
    out of the map pass — it must equal the groupBy(doc_id) count over
    the plain exploded form (the shuffle it replaces), and the optimized
    plan must NOT contain the InferFiltersFromGenerate splice (a Filter
    re-inlining the md5/regexp fingerprint chain — the O(n²)-per-doc
    interpreted-predicate hang the struct generator exists to block)."""
    docs = _docs(
        spark,
        [
            (1, "one two three four five six seven eight nine ten"),
            (2, "aa bb cc dd one two three four five six ee ff"),
            (3, "short text only here now ok"),
        ],
    )
    plain = D.winnowing_fingerprints(docs)
    grouped = {
        r.doc_id: r.n
        for r in plain.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    sized = D.winnowing_fingerprints(docs, with_size=True)
    rows = sized.collect()
    assert {(r.doc_id, r.fp) for r in rows} == {
        (r.doc_id, r.fp) for r in plain.collect()
    }
    per_doc = {r.doc_id: r.n_fp for r in rows}
    assert per_doc == grouped
    plan = sized._jdf.queryExecution().optimizedPlan().toString()
    monster = [
        l
        for l in plan.splitlines()
        if "Filter" in l and "array_min" in l
    ]
    assert not monster, f"fingerprint chain spliced into a Filter: {monster}"


def test_winnowing_overlap_plan_has_no_doc_regroup(spark):
    """r11 plan pin: winnowing_overlap_pairs reads n_fp off the
    fingerprint rows — the former groupBy(doc_id)+collect_list+re-explode
    round trip (an extra corpus shuffle and ObjectHashAggregate pair)
    must stay gone."""
    docs = _docs(spark, [(1, "a b c d e f g h"), (2, "a b c d e f x y")])
    df = D.winnowing_overlap_pairs(docs, threshold=0.0, max_df=None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "ObjectHashAggregate" not in plan


def test_winnowing_containment_flags_inclusion(spark):
    """Near-verbatim inclusion of a small doc inside a much larger one
    scores containment ~1.0 while whole-doc Jaccard dilutes toward the
    size ratio."""
    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    big = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 " + small + " y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"
    docs = _docs(spark, [(1, small), (2, big)])
    pairs = D.winnowing_overlap_pairs(docs, threshold=0.5, max_df=None).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert p.containment >= 0.9, f"inclusion scored only {p.containment}"
    jac = D.ngram_jaccard_pairs(docs, threshold=0.0, max_df=None).collect()
    assert jac[0].jaccard < p.containment


def test_bq_screen_recall_gate(spark, sf_smoke):
    """Round-5 operating point for the BQ ANN (VERDICT r4 task 4): the
    256-bit hyperplane screen at max_hamming=112 must reach recall@5
    >= 0.9 versus exact cosine kNN while sending under 30% of the corpus
    into the exact rerank (measured: 0.94 recall at ~13% scan on this
    corpus; the old 64-bit banded path sat at 0.70/26%). Scan is
    observable by ranking with an unbounded k: the screen admits a row
    iff hamming <= T, so k=inf returns exactly the reranked tail."""
    from etl_pipeline_for_retail_sales_data_spark.queries_registry import (
        _BQ_MAX_HAMMING,
        _bq_planes,
    )

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    qf = F.col("vec_id") < 10
    planes = _bq_planes()
    exact = SIM.knn_bruteforce_expr(emb, qf, k=5).collect()
    screened = SIM.bq_screen_topk(
        emb, qf, planes, max_hamming=_BQ_MAX_HAMMING, k=10**9
    ).collect()
    top5 = [r for r in screened if r.rnk <= 5]
    truth = {(r.q_id, r.neighbor_id) for r in exact}
    found = {(r.q_id, r.neighbor_id) for r in top5}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"BQ screen recall {recall} under the 0.9 gate"

    n_corpus = emb.filter(F.col("embedding").isNotNull()).count()
    n_queries = len({r.q_id for r in screened})
    scan = len(screened) / (n_queries * (n_corpus - 1))
    assert scan <= 0.30, f"rerank scan fraction {scan} over the 0.30 budget"

    # rerank is exact cosine: intersecting pairs agree with the exact sim
    sims_exact = {(r.q_id, r.neighbor_id): r.sim for r in exact}
    for r in top5:
        key = (r.q_id, r.neighbor_id)
        if key in sims_exact:
            assert r.sim == sims_exact[key]
        assert 0 <= r.hamming <= 256


def test_exact_substring_spans_finds_planted_run(spark):
    """A >= L-token run shared by two docs is reported in FULL (maximal
    span, both docs), a duplicate shorter than L is ignored, and
    within-doc self-repetition counts as duplication (Lee et al.
    semantics: >= 2 occurrences anywhere)."""
    shared = " ".join(f"s{i}" for i in range(12))  # 12-token shared run
    short = "x1 x2 x3"  # 3-token duplicate: under L, invisible
    docs = _docs(
        spark,
        [
            (1, f"a1 a2 {shared} a3 a4 {short}"),
            (2, f"b1 {shared} b2 b3 b4 b5 {short}"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14"),
        ],
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.span_len)
        for r in D.exact_substring_spans(docs, span_tokens=10).collect()
    }
    # doc 1: shared run occupies token positions 2..13 -> windows 2..4,
    # island [2,4], span [2, 14), len 12 == the full planted run
    assert spans[1] == (2, 14, 12)
    # doc 2: run at positions 1..12 -> span [1, 13), len 12
    assert spans[2] == (1, 13, 12)
    assert 3 not in spans  # unique doc: no duplicated window

    rep = {r.doc_id: r for r in D.exact_substring_report(docs, span_tokens=10).collect()}
    assert rep[1].dup_tokens == 12 and rep[1].n_spans == 1
    assert rep[3].dup_tokens == 0 and rep[3].n_spans == 0 and rep[3].dup_fraction == 0.0
    assert rep[1].dup_fraction == round(12 / rep[1].n_tokens, 6) or rep[1].dup_fraction > 0


def test_exact_substring_self_repetition_counts(spark):
    """A doc that repeats its own 10-token phrase twice is flagged even
    with no other doc involved — matching the paper's suffix-array
    semantics where any >= 2 occurrences duplicate each other."""
    phrase = " ".join(f"p{i}" for i in range(10))
    docs = _docs(spark, [(1, f"{phrase} mid1 mid2 {phrase}")])
    spans = D.exact_substring_spans(docs, span_tokens=10).collect()
    got = {(r.span_start, r.span_end) for r in spans}
    assert (0, 10) in got and (12, 22) in got


def test_benchmark_decontaminate_flags_planted_overlap(spark):
    """A train doc embedding a benchmark 10-token window is flagged with
    the right window count; clean docs report 0; benchmark docs are
    excluded from the output (they are the filter, not the corpus)."""
    phrase = " ".join(f"q{i}" for i in range(10))
    docs = _docs(
        spark,
        [
            (1, f"bench intro {phrase} bench outro"),
            (2, f"t1 t2 {phrase} t3"),  # contaminated: exactly 1 matching window
            (3, "clean1 clean2 clean3 clean4 clean5 clean6 clean7 clean8 clean9 clean10 clean11"),
        ],
    )
    out = {r.doc_id: r for r in D.benchmark_decontaminate(docs, F.col("doc_id") == 1).collect()}
    assert set(out) == {2, 3}
    assert out[2].contaminated and out[2].n_contaminated == 1
    assert not out[3].contaminated and out[3].n_contaminated == 0
    assert out[3].contam_fraction == 0.0


def test_ppjoin_equals_uncapped_exact(spark):
    """PPJoin prefix filtering is EXACT: identical pairs and values to
    ngram_jaccard_pairs(max_df=None) at several thresholds, on a corpus
    where the shared stop-phrase prefix makes the full inverted index
    skewed (so the prefix filter has real work to do)."""
    stop = "the quick brown fox jumps over the lazy dog again and again "
    docs = _docs(
        spark,
        [(i, stop + f"unique filler {i} content block {i * 7}") for i in range(1, 9)]
        + [(100, stop + "rare shared tail marker alpha beta"),
           (101, stop + "rare shared tail marker alpha beta")],
    )
    for t in (0.1, 0.5, 0.9):
        exact = {
            (r.doc_a, r.doc_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(docs, threshold=t, max_df=None).collect()
        }
        pp = {
            (r.doc_a, r.doc_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
            for r in D.ppjoin_jaccard_pairs(docs, threshold=t).collect()
        }
        assert pp == exact
    assert len(exact) > 0  # t=0.9 still keeps the identical pair 100-101


def test_ppjoin_prefix_index_is_smaller(spark):
    """The point of prefix filtering: at t=0.5 the indexed (prefix) rows
    are a strict subset of the full inverted index — |x| - ceil(t|x|) + 1
    rows per doc instead of |x| — and the hottest shingle in the prefix
    index has LOWER document frequency than the hottest shingle overall
    (rarest-first ordering pushes stop-phrases out of long docs' prefixes)."""
    stop = "the quick brown fox jumps over the lazy dog again and again "
    tail = lambda i: " ".join(f"w{i}x{j}" for j in range(24))
    docs = _docs(
        spark,
        [(i, stop + tail(i)) for i in range(1, 12)],
    )
    sh = D.doc_shingles_arrow(docs, "text", 3, with_size=True)
    full_rows = sh.count()
    from pyspark.sql import Window

    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    ranked = sh.join(dfreq, "shingle").withColumn(
        "pos", F.row_number().over(Window.partitionBy("doc_id").orderBy("__df", "shingle"))
    )
    t_micro = 500_000
    ceil_tn = F.floor((F.lit(t_micro) * F.col("n_sh") + F.lit(999_999)) / F.lit(1_000_000))
    prefix = ranked.filter(F.col("pos") <= F.col("n_sh") - ceil_tn + 1)
    prefix_rows = prefix.count()
    assert prefix_rows < full_rows
    hot_full = dfreq.agg(F.max("__df")).collect()[0][0]
    hot_prefix = (
        prefix.groupBy("shingle").agg(F.count("*").alias("pdf")).agg(F.max("pdf")).collect()[0][0]
    )
    assert hot_prefix < hot_full


def test_matryoshka_full_dim_is_exact_and_prefix_informative(spark):
    from pyspark.sql import functions as F

    from etl_pipeline_for_retail_sales_data_spark.operators.similarity import (
        matryoshka_recall,
    )

    import random

    rng = random.Random(7)
    # informative prefix: dims 0-7 carry the signal, the tail is tiny noise
    # -> truncating to 8 dims must already recover the full-dim neighbors
    rows = []
    for i in range(30):
        head = [rng.gauss(0, 1) for _ in range(8)]
        tail = [rng.gauss(0, 1e-6) for _ in range(56)]
        rows.append((i, [float(x) for x in head + tail]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = matryoshka_recall(emb, F.col("vec_id") < 5).collect()
    assert len(out) == 20  # 5 queries x 4 dim budgets
    for r in out:
        assert 0 <= r["n_hits"] <= 5
        if r["dim_budget"] == 64:
            assert r["recall"] == 1.0  # ground truth vs itself
        if r["dim_budget"] == 8:
            assert r["recall"] >= 0.8  # the signal lives in the prefix


def test_matryoshka_rejects_width_mismatch(spark):
    """Ground truth is the max(dims) prefix fold — valid only when the
    embeddings are exactly max(dims) wide. Wider (or narrower) vectors
    must RAISE instead of silently measuring recall against truncated
    ground truth."""
    from pyspark.sql import functions as F

    from etl_pipeline_for_retail_sales_data_spark.operators.similarity import (
        matryoshka_recall,
    )

    wide = spark.createDataFrame(
        [(i, [float(j) for j in range(128)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="matryoshka_recall: embedding width"):
        matryoshka_recall(wide, F.col("vec_id") < 2).collect()

    # passing the real width as the truth budget restores the contract
    ok = matryoshka_recall(wide, F.col("vec_id") < 2, dims=(8, 128)).collect()
    assert len(ok) == 4  # 2 queries x 2 budgets


def test_maxsim_exact_copy_group_wins(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from etl_pipeline_for_retail_sales_data_spark.operators.similarity import (
        maxsim_late_interaction,
    )

    import random

    rng = random.Random(3)
    rows = []
    # query tokens: vec_id 0..4 (one query)
    qvecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(5)]
    for i, v in enumerate(qvecs):
        rows.append((i, [float(x) for x in v], 9))  # queries live in group 9
    # group 1 contains an exact copy of every query token -> per-token max
    # cosine 1.0 -> score 5.0, the ceiling, must rank first
    for i, v in enumerate(qvecs):
        rows.append((100 + i, [float(x) for x in v], 1))
    # group 2: random noise
    for i in range(10):
        rows.append((200 + i, [float(rng.gauss(0, 1)) for _ in range(8)], 2))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = maxsim_late_interaction(emb, n_queries=1, tokens_per_query=5, k=3).collect()
    top = {r["rnk"]: r for r in out if r["query_id"] == 0}
    assert top[1]["doc_label"] in (1, 9)  # both hold exact copies of the tokens
    assert abs(top[1]["maxsim_score"] - 5.0) < 1e-6
    assert abs(top[2]["maxsim_score"] - 5.0) < 1e-6
    assert {top[1]["doc_label"], top[2]["doc_label"]} == {1, 9}
    assert top[3]["doc_label"] == 2 and top[3]["maxsim_score"] < 5.0


def test_jl_projection_preserves_most_neighbors(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from etl_pipeline_for_retail_sales_data_spark.operators.similarity import (
        jl_projection_recall,
    )

    import random

    rng = random.Random(11)
    # clustered geometry — the structure JL preserves (isotropic points are
    # near-equidistant, so their top-k ORDER is not a JL guarantee): 10
    # tight clusters of 6; a query's true neighbors are its cluster mates
    rows = []
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    for i in range(60):
        c = centers[i % 10]
        rows.append((i, [float(x + rng.gauss(0, 0.05)) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(32)]
    out = jl_projection_recall(emb, F.col("vec_id") < 5, planes).collect()
    assert len(out) == 5
    for r in out:
        assert r["proj_dim"] == 32
        assert 0 <= r["n_hits"] <= 5
        # each query's 5 cluster mates survive the projection
        assert r["n_hits"] == 5


def test_ppjoin_positional_filter_strictly_prunes(spark, sf_smoke):
    """The PPJoin positional filter (Xiao 2008 §3) must shrink the
    candidate superset on a real corpus — prefix + size filtering alone
    admits pairs whose shared prefix tokens sit too late in the sorted
    order to ever reach the required overlap — while leaving the verified
    output bit-identical (the filter only prunes, never drops a true
    pair: its first-shared-token witness always survives)."""
    from etl_pipeline_for_retail_sales_data_spark.operators.dedup import (
        _ppjoin_candidates,
        ngram_jaccard_pairs,
        ppjoin_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    loose, _ = _ppjoin_candidates(docs, "text", 3, 0.5, positional=False)
    tight, _ = _ppjoin_candidates(docs, "text", 3, 0.5, positional=True)
    n_loose, n_tight = loose.count(), tight.count()
    assert n_tight < n_loose, (n_tight, n_loose)
    # pruning is sound: the exact inverted-index pairs survive verbatim
    got = sorted(map(tuple, ppjoin_jaccard_pairs(docs, threshold=0.5).collect()))
    want = sorted(
        map(tuple, ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).collect())
    )
    assert got == want
