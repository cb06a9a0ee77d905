"""Training-data pipeline operators: pieces not fully covered by the
oracle gate (near-pair generators, multimodal feature vectors)."""

import pytest
from pyspark.sql import functions as F

from pg_auto_dw_spark.functions.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from pg_auto_dw_spark.functions.multimodal import decode_media, synth_media_df
from pg_auto_dw_spark.functions.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_bucket_topk,
)
from pg_auto_dw_spark.sources import load_table


def test_exact_duplicates_are_lsh_candidates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    # plant an exact duplicate of doc 0 with a new id
    dup = docs.filter(F.col("doc_id") == 0).withColumn("doc_id", F.lit(99999).cast("bigint"))
    with_dup = docs.unionByName(dup)
    pairs = minhash_lsh_candidates(with_dup).collect()
    assert (0, 99999) in {(r["id_a"], r["id_b"]) for r in pairs}
    # and jaccard confirms it at 1.0
    jac = ngram_jaccard_pairs(
        with_dup.withColumn("blk", F.lit(1)), blocking_col="blk", threshold=0.99
    ).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 99999 and r["jaccard"] == 1.0 for r in jac)


def test_lsh_hot_bucket_emits_star_not_all_pairs(spark):
    """A planted degenerate bucket (10k identical docs) must produce
    O(n) star pairs against the bucket representative, never the
    ~50M all-pairs blowup in a single task."""
    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated across the whole corpus").alias(
            "text"
        ),
    )
    rows = minhash_lsh_candidates(docs, max_bucket_size=64).collect()
    assert len(rows) == n - 1
    assert all(r["id_a"] == 0 for r in rows)  # rep = min(id) of the bucket
    assert {r["id_b"] for r in rows} == set(range(1, n))


def test_lsh_small_buckets_keep_exact_all_pairs(spark, sf_dir):
    """Buckets at or under the cap still get the recall-exact all-pairs
    path: 10 identical docs -> C(10,2) = 45 pairs."""
    base = load_table(spark, sf_dir, "documents").limit(20)
    clones = spark.range(10).select(
        (F.col("id") + 500_000).alias("doc_id"),
        F.lit("ten way duplicate cluster under the bucket cap").alias("text"),
    )
    docs = base.select("doc_id", "text").unionByName(clones)
    pair_set = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, max_bucket_size=64).collect()
        if r["id_a"] >= 500_000
    }
    expected = {
        (500_000 + i, 500_000 + j) for i in range(10) for j in range(i + 1, 10)
    }
    assert pair_set == expected


def test_simhash_identical_docs_same_hash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    dup = docs.filter(F.col("doc_id") == 1).withColumn("doc_id", F.lit(88888).cast("bigint"))
    sh = simhash(docs.unionByName(dup)).collect()
    by_id = {r["doc_id"]: r["simhash"] for r in sh}
    assert by_id[1] == by_id[88888]
    pairs = simhash_near_pairs(
        docs.unionByName(dup).withColumn("blk", F.lit(1)), blocking_col="blk", max_hamming=0
    ).collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 88888 for r in pairs)


def test_brute_force_topk_self_similarity_excluded(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    top = brute_force_topk(emb, query_ids=[0, 1], k=3).collect()
    assert len(top) == 6
    assert all(r["neighbor_id"] != r["query_id"] for r in top)
    assert all(-1.0001 <= r["cosine"] <= 1.0001 for r in top)
    # planted duplicate vector must rank first with cosine ~1
    dup = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(77777).cast("bigint"))
    top0 = brute_force_topk(emb.unionByName(dup), query_ids=[0], k=1).collect()[0]
    assert top0["neighbor_id"] == 77777 and abs(top0["cosine"] - 1.0) < 1e-9


def test_lsh_bucket_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, query_ids=list(range(20)), k=1).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk(emb, k=5, n_planes=4).collect()
        if r["query_id"] < 20
    }
    # sanity: the approximate index recovers a nontrivial share of true
    # nearest neighbors (sign-LSH on random data is weak; >0 is the bar,
    # exactness comes from the brute-force path)
    assert len(exact & approx) > 0


def test_embedding_near_dup_detects_planted_dup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") == 5).withColumn("vec_id", F.lit(66666).cast("bigint"))
    pairs = embedding_near_dup_pairs(emb.unionByName(dup), threshold=0.999).collect()
    assert any(r["id_a"] == 5 and r["id_b"] == 66666 for r in pairs)


def _identical_embeddings(spark, n):
    """n identical 8-dim vectors -> one LSH bucket / one IVF cell."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(v)) for v in [0.5, -0.25, 0.75, 0.1, -0.6, 0.3, 0.9, -0.05]])
        .cast("array<float>")
        .alias("embedding"),
    )


def test_lsh_topk_hot_bucket_caps_neighbor_side(spark):
    """A planted degenerate bucket (5k identical vectors) must sample
    the neighbor side (~cap members), never the 25M-pair self-join:
    every query still gets k results, drawn from the bounded pool."""
    n, cap, k = 5_000, 50, 3
    emb = _identical_embeddings(spark, n)
    rows = lsh_bucket_topk(emb, k=k, n_planes=8, max_bucket_size=cap).collect()
    assert len({r["query_id"] for r in rows}) == n  # full query coverage
    pool = {r["neighbor_id"] for r in rows}
    assert len(pool) <= 3 * cap  # bounded candidate pool, not all 5k
    assert all(abs(r["cosine"] - 1.0) < 1e-9 for r in rows)


def test_ivf_topk_hot_cell_caps_neighbor_side(spark):
    from pg_auto_dw_spark.functions.similarity import ivf_topk

    n, cap = 2_000, 32
    emb = _identical_embeddings(spark, n)
    rows = ivf_topk(emb, k=2, stride=50, max_cell_size=cap).collect()
    assert len({r["query_id"] for r in rows}) == n
    assert len({r["neighbor_id"] for r in rows}) <= 3 * cap


def test_embedding_near_dup_kernel_bit_identical_to_join_shape(spark, sf_dir):
    """The Arrow gram-matrix kernel must reproduce the built-in join
    shape BIT-identically (exact int64 dots; same IEEE float64 divide
    order) -- the hash-stability contract the SQL oracle relies on."""
    from pg_auto_dw_spark.functions.similarity import (
        cosine,
        int_dot,
        sign_bucket,
        with_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(
            emb, threshold=0.25, n_planes=4, hyperplanes=False
        ).collect()
    }
    base = with_quantized(emb, "embedding").select(
        "vec_id", sign_bucket(F.col("embedding"), 4).alias("bucket"), "qvec", "qnorm"
    )
    a = base.select(
        F.col("vec_id").alias("id_a"), F.col("bucket").alias("bk"),
        F.col("qvec").alias("qv"), F.col("qnorm").alias("qn"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"), F.col("bucket").alias("bk"), "qvec", "qnorm"
    )
    want = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in a.join(b, ["bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            cosine(int_dot(F.col("qv"), F.col("qvec")), F.col("qn"), F.col("qnorm")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.25)
        .collect()
    }
    assert got == want  # exact equality, not approx: bit-identity


def test_embedding_near_dup_hot_bucket_emits_star(spark):
    """Oversized near-dup bucket falls back to star pairs against the
    bucket rep (min id): O(n) rows, connectivity preserved."""
    n = 3_000
    emb = _identical_embeddings(spark, n)
    rows = embedding_near_dup_pairs(
        emb, threshold=0.99, n_planes=8, max_bucket_size=64
    ).collect()
    assert len(rows) == n - 1
    assert all(r["id_a"] == 0 for r in rows)
    assert {r["id_b"] for r in rows} == set(range(1, n))
    assert all(abs(r["cosine"] - 1.0) < 1e-9 for r in rows)


def test_multimodal_decode_feature_histogram(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    decoded = decode_media(synth_media_df(docs)).collect()
    assert len(decoded) == 20
    for r in decoded:
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-6  # histogram normalizes
        assert r["n_bytes"] > 0
        if r["media_type"] == "audio":
            assert r["width"] is None
        else:
            assert 16 <= r["width"] < 640


def test_hyperplane_lsh_mechanism(spark, sf_dir):
    """Seeded random-hyperplane buckets: deterministic in the seed,
    nontrivial bucket spread, nonzero recall of true nearest neighbors,
    and a planted duplicate always shares its original's bucket.

    (On isotropic synthetic embeddings, hyperplanes are not expected to
    beat axis-aligned buckets -- both are random directions; their value
    is data-independence on real, anisotropic embeddings.)"""
    from pg_auto_dw_spark.functions.similarity import hyperplane_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = emb.select(
        "vec_id", hyperplane_bucket(F.col("embedding"), 64, 4).alias("b")
    )
    n_buckets = buckets.select("b").distinct().count()
    assert 2 <= n_buckets <= 16  # 4 planes -> at most 2^4 buckets
    # deterministic in the seed
    again = emb.select("vec_id", hyperplane_bucket(F.col("embedding"), 64, 4).alias("b"))
    assert buckets.exceptAll(again).count() == 0
    # identical vectors share a bucket
    dup = emb.filter(F.col("vec_id") == 3).withColumn(
        "vec_id", F.lit(55555).cast("bigint")
    )
    both = (
        emb.unionByName(dup)
        .filter(F.col("vec_id").isin([3, 55555]))
        .select(hyperplane_bucket(F.col("embedding"), 64, 4).alias("b"))
        .collect()
    )
    assert both[0]["b"] == both[1]["b"]
    # nonzero recall of true nearest neighbors
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, query_ids=list(range(30)), k=1).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk(emb, k=5, n_planes=4, hyperplanes=True, dims=64).collect()
        if r["query_id"] < 30
    }
    assert len(exact & approx) > 0


def test_create_views_sql_surface(spark, sf_dir, tmp_path):
    import datetime

    from pg_auto_dw_spark.api import AutoDW
    from pg_auto_dw_spark.catalog.registry import testdata_registry

    adw = AutoDW(
        spark,
        str(tmp_path / "wh"),
        registry=testdata_registry(),
        clock=lambda: datetime.datetime(2024, 6, 1),
    )
    adw.register_source("main", "customer", load_table(spark, sf_dir, "customer"))
    adw.source_include("main", "customer")
    adw.classify_pending()
    views = adw.create_views()
    assert "auto_dw_source_column" in views
    n = spark.sql(
        "SELECT count(*) FROM auto_dw_source_column WHERE status = 'Ready to Deploy'"
    ).collect()[0][0]
    assert n == 5
    assert spark.sql("SELECT * FROM auto_dw_health").count() == 3


def test_ivf_assign_and_planted_dup(spark, sf_dir):
    from pg_auto_dw_spark.functions.similarity import ivf_assign, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf_assign(emb, stride=50).collect()
    # every vector gets exactly one cell, and cells are centroid ids
    assert len(cells) == emb.count()
    assert all(r["cell"] % 50 == 0 for r in cells)
    # centroid vectors assign to themselves (cosine 1.0 with own cell)
    own = {r["vec_id"]: r["cell"] for r in cells}
    for cid in [0, 50, 100]:
        assert own[cid] == cid
    # a planted duplicate shares the query's cell -> IVF finds it first
    dup = emb.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.lit(66666).cast("bigint")
    )
    top = ivf_topk(emb.unionByName(dup), k=1, stride=50).collect()
    by_q = {r["query_id"]: r for r in top}
    assert by_q[7]["neighbor_id"] == 66666
    assert abs(by_q[7]["cosine"] - 1.0) < 1e-9


def test_hyperplane_beats_sign_bucket_on_anisotropic(spark):
    """On anisotropic embeddings -- cluster structure in dims 9..64,
    pure +/- noise in dims 1..8 -- axis-aligned sign buckets (which
    read only the first 8 coordinates) split cluster-mates on noise
    signs, while seeded hyperplanes (reading all 64 dims) keep them
    together. This is why hyperplanes are the package default."""
    import random

    rng = random.Random(7)
    rows = []
    for c in range(10):
        center = [rng.gauss(0.0, 1.0) for _ in range(56)]
        for m in range(20):
            noise_head = [rng.gauss(0.0, 0.01) for _ in range(8)]
            body = [v + rng.gauss(0.0, 0.05) for v in center]
            rows.append((c * 20 + m, [float(x) for x in noise_head + body]))
    emb = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    truth = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(emb, query_ids=list(range(200)), k=1).collect()
    }

    def recall(hyper):
        got = {}
        for r in lsh_bucket_topk(emb, k=5, n_planes=8, hyperplanes=hyper).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(1 for q, n in truth.items() if n in got.get(q, set())) / len(truth)

    hyper, axis = recall(True), recall(False)
    assert hyper > axis
    assert hyper >= 0.8  # cluster-mates nearly always share a hyperplane bucket


def test_ivf_kmeans_codebook_and_multiprobe_recall(spark, sf_dir):
    """K-means refinement + multi-probe: centroids are exact integers
    (reproducible), refined cells still cover every vector, and
    multi-probe recall vs brute force is >= single-probe recall with
    the same codebook (probe sets are supersets)."""
    from pg_auto_dw_spark.functions.similarity import (
        ivf_assign,
        ivf_kmeans_codebook,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = ivf_kmeans_codebook(emb, stride=50, iters=2)
    cents = cb.collect()
    assert 1 <= len(cents) <= emb.count() // 50 + 1
    assert all(isinstance(v, int) for r in cents for v in r["cv"])  # exact ints
    # deterministic: a second build gives the identical codebook
    again = {r["cent_id"]: r["cv"] for r in ivf_kmeans_codebook(emb, stride=50, iters=2).collect()}
    assert {r["cent_id"]: r["cv"] for r in cents} == again
    # full coverage under the refined codebook
    assigned = ivf_assign(emb, codebook=cb)
    assert assigned.count() == emb.count()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, query_ids=list(range(40)), k=1).collect()
    }
    def recall(probes):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, k=5, codebook=cb, n_probes=probes).collect()
            if r["query_id"] < 40
        }
        return len(exact & got)
    r1, r3 = recall(1), recall(3)
    assert r3 >= r1
    assert r3 > 0


def test_ivf_kmeans_codebook_recall_not_below_stride_seed(spark, sf_dir):
    """The headline ann_ivf_topk path now routes through the k-means
    codebook (r3 VERDICT directive 2); the refined codebook's recall vs
    brute force must be >= the unrefined stride-seed baseline's."""
    from pg_auto_dw_spark.functions.similarity import ivf_kmeans_codebook, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    n_q = min(60, emb.count())
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, query_ids=list(range(n_q)), k=1).collect()
    }

    def recall(codebook=None):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, k=5, stride=50, codebook=codebook).collect()
            if r["query_id"] < n_q
        }
        return len(exact & got) / len(exact)

    stride_recall = recall()
    kmeans_recall = recall(codebook=ivf_kmeans_codebook(emb, stride=50, iters=1))
    assert kmeans_recall >= stride_recall


def test_corpus_canonical_set_single_lsh_pass(spark, sf_dir):
    """clean_corpus + clean_corpus_summary with a shared dedup_cache_key
    trigger exactly ONE MinHash+LSH+CC build between them (r3 VERDICT
    directive 3), and produce the same results as the uncached path."""
    import pg_auto_dw_spark.functions.corpus as corpus_mod
    from pg_auto_dw_spark.functions.corpus import clean_corpus, clean_corpus_summary

    docs = load_table(spark, sf_dir, "documents")
    base_docs = sorted(r["doc_id"] for r in clean_corpus(docs).collect())
    base_sum = {
        r["detected_lang"]: (r["n_docs"], r["total_tokens"])
        for r in clean_corpus_summary(docs).collect()
    }

    corpus_mod._CLUSTER_CACHE.clear()
    before = corpus_mod._CANON_BUILDS
    key = "shared-test-key"
    shared_docs = sorted(
        r["doc_id"] for r in clean_corpus(docs, dedup_cache_key=key).collect()
    )
    shared_sum = {
        r["detected_lang"]: (r["n_docs"], r["total_tokens"])
        for r in clean_corpus_summary(docs, dedup_cache_key=key).collect()
    }
    assert corpus_mod._CANON_BUILDS == before + 1  # one LSH pass, two consumers
    assert shared_docs == base_docs
    assert shared_sum == base_sum
    # the full cluster assignment (dedup_clusters consumer) shares it too
    from pg_auto_dw_spark.functions.corpus import cluster_assignments

    assert cluster_assignments(docs, cache_key=key).count() > 0
    assert corpus_mod._CANON_BUILDS == before + 1


def test_simhash_chunk_pairs_complete_vs_blocked(spark, sf_dir):
    from pg_auto_dw_spark.functions.dedup import simhash_chunk_pairs

    docs = load_table(spark, sf_dir, "documents").limit(120)
    # ground truth: all-pairs hamming via a global blocking key
    truth = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(
            docs.withColumn("blk", F.lit(1)), blocking_col="blk", max_hamming=3
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_chunk_pairs(docs, max_hamming=3).collect()
    }
    # pigeonhole candidates are COMPLETE for k < n_chunks: exact match
    assert got == truth


def test_global_row_number_both_paths(spark, sf_dir):
    from pg_auto_dw_spark.functions.sequence import global_row_number

    df = spark.range(1000).select(
        (F.col("id") * 7919 % 1000).alias("k")  # permutation of 0..999
    )
    # small path: single-partition window
    small = global_row_number(df, ["k"], "rn").collect()
    assert sorted((r["k"], r["rn"]) for r in small) == [(i, i + 1) for i in range(1000)]
    # large path: force the range-partitioned branch with a tiny threshold
    large = global_row_number(df, ["k"], "rn", single_partition_max=10).collect()
    assert sorted((r["k"], r["rn"]) for r in large) == [(i, i + 1) for i in range(1000)]
    # empty input
    assert global_row_number(df.filter(F.lit(False)), ["k"], "rn").count() == 0


@pytest.mark.parametrize("bound", [0, 10**9], ids=["spark", "driver"])
def test_connected_components_chain_clique_singleton(spark, monkeypatch, bound):
    """Min-id clustering in both regimes: a 40-node chain (the Spark
    rounds must converge it within the round budget), a clique, and
    singletons from the node set."""
    from pg_auto_dw_spark.functions import dedup
    from pg_auto_dw_spark.functions.dedup import connected_components

    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", bound)

    chain = [(i, i + 1) for i in range(100, 140)]          # component min 100
    clique = [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]
    pairs = spark.createDataFrame(chain + clique, "id_a: bigint, id_b: bigint")
    nodes = spark.range(300, 303).select(F.col("id").alias("doc_id")).unionByName(
        spark.createDataFrame(
            [(i,) for i in list(range(100, 141)) + list(range(200, 205))],
            "doc_id: bigint",
        )
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes=nodes).collect()
    }
    assert all(got[i] == 100 for i in range(100, 141))
    assert all(got[i] == 200 for i in range(200, 205))
    assert all(got[i] == i for i in range(300, 303))  # singletons


def test_connected_components_raises_at_round_cap(spark, monkeypatch):
    """Unconverged labels would silently split clusters, so hitting the
    round cap raises. A 5-node chain needs exactly three large-star/
    small-star rounds: two to fold it into a star, one that changes
    nothing."""
    import pytest

    from pg_auto_dw_spark.functions import dedup

    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", 0)

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "id_a: bigint, id_b: bigint"
    )
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        dedup.connected_components(pairs)
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 3)
    got = dedup.connected_components(pairs).collect()
    assert sorted(r["doc_id"] for r in got) == list(range(5))
    assert {r["cluster_id"] for r in got} == {0}


def test_token_budget_sample_respects_budget(spark, sf_dir):
    """Greedy hash-order sampling: per-language token sums stay within
    budget, the result is deterministic, and kept docs are a prefix in
    (bucket, hash) order -- adding budget only grows the set."""
    from pg_auto_dw_spark.functions.corpus import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    small = token_budget_sample(docs, budget_tokens=5_000)
    sums = {
        r["detected_lang"]: r["s"]
        for r in small.groupBy("detected_lang").agg(F.sum("n_bpe_tokens").alias("s")).collect()
    }
    assert sums and all(s <= 5_000 for s in sums.values())
    again = token_budget_sample(docs, budget_tokens=5_000)
    assert small.exceptAll(again).count() == 0 and again.exceptAll(small).count() == 0
    bigger = token_budget_sample(docs, budget_tokens=20_000)
    small_ids = {r["doc_id"] for r in small.collect()}
    bigger_ids = {r["doc_id"] for r in bigger.collect()}
    assert small_ids <= bigger_ids


def test_multimodal_resize_and_frame_sampling(spark, sf_dir):
    from pg_auto_dw_spark.functions.multimodal import (
        resize_media,
        sample_frames,
        synth_media_df,
    )

    media = synth_media_df(load_table(spark, sf_dir, "documents").limit(30))
    resized = resize_media(media).collect()
    assert len(resized) == 30
    for r in resized:
        if r["media_type"] == "audio":
            assert r["out_width"] is None and r["thumbnail"] is None
        else:
            assert 1 <= max(r["out_width"], r["out_height"]) <= 64
            assert len(r["thumbnail"]) == r["out_width"] * r["out_height"] * 3
    frames = sample_frames(media).collect()
    assert frames and all(r["media_id"] % 3 == 2 for r in frames)  # video only
    per_media = {}
    for r in frames:
        per_media.setdefault(r["media_id"], []).append(r["frame_no"])
    for mid, nos in per_media.items():
        assert 1 <= len(nos) <= 4
        assert sorted(nos) == nos or set(nos) == set(sorted(nos))
        assert 0 in nos  # first frame always sampled


def test_ivf_kmeans_sample_training(spark, sf_dir):
    """Subsample-trained codebook (train_modulus=2): still a valid
    index -- every vector assigns, every cell from the seed labels,
    and the full-corpus assignment works against it."""
    from pg_auto_dw_spark.functions.similarity import ivf_assign, ivf_kmeans_codebook

    emb = load_table(spark, sf_dir, "embeddings")
    cb = ivf_kmeans_codebook(emb, stride=50, iters=1, train_modulus=2)
    assert 1 <= cb.count() <= emb.count() // 50 + 1
    assigned = ivf_assign(emb, codebook=cb)
    assert assigned.count() == emb.count()
    assert assigned.filter(F.col("cell") % 50 != 0).count() == 0


def test_decontaminate_flags_planted_overlap(spark):
    """A doc embedding a benchmark sentence shares its word-8-grams and
    is flagged; clean docs survive; the stop-gram cap suppresses the
    join entirely at max_gram_docs=0."""
    from pg_auto_dw_spark.functions.corpus import contamination_pairs, decontaminate

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (10, "clean document with completely different words and content here okay"),
            (11, "prefix words first then the quick brown fox jumps over the lazy dog tonight embedded"),
            (12, "too short for any gram"),
        ],
        ["doc_id", "text"],
    )
    pairs = contamination_pairs(docs, bench, n=8).collect()
    assert {(r["doc_id"], r["bench_id"]) for r in pairs} == {(11, 1)}
    # 10 bench words -> 3 distinct 8-grams, all embedded in doc 11
    assert pairs[0]["n_shared_grams"] == 3
    kept = {r["doc_id"] for r in decontaminate(docs, bench, n=8).collect()}
    assert kept == {10, 12}
    assert contamination_pairs(docs, bench, n=8, max_gram_docs=0).count() == 0


def test_profile_table_nulls_and_approx_path(spark):
    """profile_table counts nulls per column, renders doubles through
    DECIMAL(38,2), and the approx-distinct scale path stays close to
    exact."""
    from pg_auto_dw_spark.catalog.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.25), (3, "b", None), (4, "a", 2.25)],
        "k long, s string, v double",
    )
    prof = {r["column_name"]: r for r in profile_table(df).collect()}
    assert prof["k"]["n_rows"] == 4 and prof["k"]["n_nulls"] == 0
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["n_distinct"] == 2
    assert prof["v"]["min_value"] == "1.50" and prof["v"]["max_value"] == "2.25"
    assert prof["s"]["min_value"] == "a" and prof["s"]["max_value"] == "b"
    approx = {
        r["column_name"]: r["n_distinct"]
        for r in profile_table(df, exact_distinct=False).collect()
    }
    for c, exact in (("k", 4), ("s", 2), ("v", 2)):
        assert abs(approx[c] - exact) <= 1  # HLL exact at tiny cardinality


def test_chunk_documents_covers_all_words(spark):
    from pyspark.sql import Row

    from pg_auto_dw_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(f"w{i}" for i in range(100))),  # exact windows
            Row(doc_id=2, text=" ".join(f"w{i}" for i in range(50))),   # ragged tail
            Row(doc_id=3, text="only three words"),                      # shorter than one
        ]
    )
    out = chunk_documents(docs, chunk_words=40, stride=20)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # doc 1: starts 0,20,40,60 -> 4 chunks, all 40 words
    assert sorted(c for (d, c) in rows if d == 1) == [0, 1, 2, 3]
    assert all(rows[(1, c)].n_words == 40 for c in range(3))
    # every word appears in some chunk of its doc
    covered = set()
    for (d, c), r in rows.items():
        if d == 1:
            covered.update(r.chunk_text.split(" "))
    assert covered == {f"w{i}" for i in range(100)}
    # doc 2 (50 words): starts 0,20 -> second chunk holds words 21-50
    assert sorted(c for (d, c) in rows if d == 2) == [0, 1]
    assert rows[(2, 1)].n_words == 30
    # doc 3: one short chunk
    assert rows[(3, 0)].n_words == 3 and rows[(3, 0)].chunk_text == "only three words"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_words=0, stride=5)


def test_containment_catches_embedded_doc(spark):
    from pyspark.sql import Row

    from pg_auto_dw_spark.functions.dedup import ngram_containment_pairs

    small = "alpha beta gamma delta epsilon"
    big = "intro words here " + small + " plus a very long unrelated tail " * 5
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=small, lang="en"),
            Row(doc_id=2, text=big, lang="en"),
            Row(doc_id=3, text="completely different content", lang="en"),
        ]
    )
    out = {
        (r.id_a, r.id_b): (r.containment_ab, r.containment_ba)
        for r in ngram_containment_pairs(
            docs, blocking_col="lang", threshold=0.9
        ).collect()
    }
    # small is embedded in big: containment of 1-in-2 ~ 1.0
    assert (1, 2) in out
    ab, ba = out[(1, 2)]
    assert ab > 0.9 and ba < 0.6
    assert (1, 3) not in out and (2, 3) not in out


def test_redact_pii_counts_and_placeholders(spark):
    from pg_auto_dw_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e-f.org, call 415-555-1234, host 10.0.0.1"),
            (2, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["n_phones"] == 1 and out[1]["n_ips"] == 1
    assert "<EMAIL>" in out[1]["redacted_text"]
    assert "<PHONE>" in out[1]["redacted_text"]
    assert "<IP>" in out[1]["redacted_text"]
    assert "a@b.co" not in out[1]["redacted_text"]
    assert "415-555-1234" not in out[1]["redacted_text"]
    assert out[2]["redacted_text"] == "nothing sensitive here"
    assert out[2]["n_emails"] == out[2]["n_phones"] == out[2]["n_ips"] == 0


def test_leakage_safe_split_never_separates_duplicates(spark, sf_dir):
    from pg_auto_dw_spark.functions.corpus import leakage_safe_split
    from pg_auto_dw_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    split = leakage_safe_split(docs, val_fraction=0.2)
    j = docs.select("doc_id", "text").join(split, "doc_id")
    # every exact-duplicate group is single-sided
    mixed = (
        j.groupBy(F.sha2("text", 256))
        .agg(F.countDistinct("split").alias("sides"))
        .filter(F.col("sides") > 1)
        .count()
    )
    assert mixed == 0
    sides = {r["split"] for r in split.select("split").distinct().collect()}
    assert sides == {"train", "val"}


def test_leakage_safe_split_cluster_aware(spark, sf_dir):
    """Near-dup-aware variant: pass dedup cluster ids as the group --
    whole clusters land on one side."""
    from pg_auto_dw_spark.functions.corpus import leakage_safe_split
    from pg_auto_dw_spark.functions.dedup import (
        connected_components,
        minhash_lsh_candidates,
    )
    from pg_auto_dw_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs)
    clusters = connected_components(pairs, nodes=docs.select("doc_id"), id_col="doc_id")
    tagged = docs.join(clusters, "doc_id").withColumn(
        "cluster", F.col("cluster_id").cast("long")
    )
    split = leakage_safe_split(tagged, val_fraction=0.2, group_col="cluster")
    j = tagged.select("doc_id", "cluster").join(split, "doc_id")
    mixed = (
        j.groupBy("cluster")
        .agg(F.countDistinct("split").alias("sides"))
        .filter(F.col("sides") > 1)
        .count()
    )
    assert mixed == 0


def test_remove_repeated_segments_strikes_cross_doc_boilerplate(spark):
    from pg_auto_dw_spark.functions.corpus import remove_repeated_segments

    banner = "all rights reserved please click here to subscribe now today"  # 10 words
    u1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    u2 = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, f"{banner} {u1}"),
            (2, f"{banner} {u2}"),
            (3, banner),  # pure boilerplate
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_repeated_segments(df).collect()}
    assert out[1]["clean_text"] == u1 and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == u2 and out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1
    assert out[3]["n_segments"] == 1


def test_keep_best_per_cluster_ties_and_singletons(spark):
    from pg_auto_dw_spark.functions.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 10), (2, 40), (3, 40), (9, 7)], "doc_id bigint, n_chars bigint"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id bigint, cluster_id bigint"
    )
    rows = {
        r["cluster_id"]: r
        for r in keep_best_per_cluster(docs, clusters, "n_chars").collect()
    }
    assert rows[1]["keep_id"] == 2  # tie on score 40 -> lowest id wins
    assert rows[1]["keep_score"] == 40 and rows[1]["n_members"] == 3
    assert rows[9]["keep_id"] == 9 and rows[9]["n_members"] == 1  # singleton


def test_word_entropy_bounds(spark):
    from pg_auto_dw_spark.functions.text import word_entropy

    docs = spark.createDataFrame(
        [
            (1, "same same same same"),          # zero entropy
            (2, "a b c d"),                       # uniform -> log2(4) = 2 bits
            (3, "  padded   whitespace  doc  "),  # split noise handled
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in word_entropy(docs).collect()}
    assert rows[1]["entropy_bits"] == 0.0 and rows[1]["n_distinct_words"] == 1
    assert rows[2]["entropy_bits"] == 2.0 and rows[2]["n_words"] == 4
    assert rows[3]["n_words"] == 3  # empty tokens from padding dropped


def test_unigram_logprob_model_semantics(spark):
    from pg_auto_dw_spark.functions.text import unigram_logprob

    import math

    docs = spark.createDataFrame(
        [
            (1, "the the the"),   # 'the' freq 3 of 6 tokens
            (2, "the rare"),      # mixes common + singleton
            (3, "odd"),           # singleton-only doc scores lowest
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # corpus LM: p(the)=4/6, p(rare)=1/6, p(odd)=1/6
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["avg_logprob"] == round(math.log10(4 / 6), 6)
    assert rows[2]["avg_logprob"] == round(
        (math.log10(4 / 6) + math.log10(1 / 6)) / 2, 6
    )
    # rare-token docs score strictly lower: the perplexity-filter order
    assert rows[3]["avg_logprob"] < rows[2]["avg_logprob"] < rows[1]["avg_logprob"]


def test_pack_sequences_contiguous_and_deterministic(spark, sf_dir):
    """pack_sequences lays docs end-to-end with no gaps or overlaps
    (sorted global offsets form an exact prefix-sum of token counts),
    seq coordinates derive from the offset, and the placement is
    bit-identical across input partitionings (the bucket-coarse order
    is data-determined, not partition-determined)."""
    from pg_auto_dw_spark.functions.corpus import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    placed = pack_sequences(docs, seq_tokens=512).collect()
    assert len(placed) == docs.count()
    rows = sorted(placed, key=lambda r: r["global_offset"])
    cum = 0
    for r in rows:
        assert r["global_offset"] == cum  # contiguous, no gap/overlap
        assert r["seq_id"] == cum // 512
        assert r["seq_offset"] == cum % 512
        assert r["n_bpe_tokens"] > 0
        cum += r["n_bpe_tokens"]
    again = pack_sequences(docs.repartition(7), seq_tokens=512).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, placed))


def test_packing_stats_accounts_every_token(spark, sf_dir):
    from pg_auto_dw_spark.functions.corpus import pack_sequences, packing_stats

    docs = load_table(spark, sf_dir, "documents")
    s = packing_stats(docs, seq_tokens=512).collect()[0]
    placed = pack_sequences(docs, seq_tokens=512)
    total = placed.agg(F.sum("n_bpe_tokens")).collect()[0][0]
    assert s["total_tokens"] == total
    assert s["n_docs"] == docs.count()
    assert s["n_sequences"] == -(-total // 512)
    assert 0 < s["last_seq_fill"] <= 512
    # exact-multiple corpus: the last sequence reports FULL, not 0
    two = spark.createDataFrame([(1, "a " * 512), (2, "b " * 512)],
                                "doc_id long, text string")
    s2 = packing_stats(two, seq_tokens=512).collect()[0]
    assert s2["total_tokens"] == 1024
    assert s2["n_sequences"] == 2 and s2["last_seq_fill"] == 512
    straddle = placed.filter(
        (F.col("seq_offset") + F.col("n_bpe_tokens")) > 512
    ).count()
    assert s["n_straddling_docs"] == straddle


def test_bigram_logprob_order_sensitivity(spark):
    """Word-salad (same unigrams, scrambled order) scores strictly
    lower than the coherent template it was scrambled from -- the
    signal bigram perplexity adds over unigram; sub-2-token docs emit
    no row; n_bigrams = n_tokens - 1."""
    from pg_auto_dw_spark.functions.text import bigram_logprob, unigram_logprob

    coherent = "the cat sat on the mat"
    rows = [(i, coherent) for i in range(10)]
    rows.append((10, "mat the on sat cat the"))  # same words, salad order
    rows.append((11, "cat"))  # 1 token: no bigram, no row
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert 11 not in out
    assert out[0]["n_bigrams"] == 5 and out[10]["n_bigrams"] == 5
    assert out[10]["avg_logprob"] < out[0]["avg_logprob"]
    # unigram model cannot tell them apart (same multiset minus 1 'the')
    uni = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(docs).collect()}
    assert abs(uni[10] - uni[0]) < 0.2  # near-identical under unigrams
    # deterministic across partitionings
    again = {
        r["doc_id"]: r for r in bigram_logprob(docs.repartition(7)).collect()
    }
    assert {k: (v["n_bigrams"], v["avg_logprob"]) for k, v in out.items()} == {
        k: (v["n_bigrams"], v["avg_logprob"]) for k, v in again.items()
    }


def test_duplicated_span_stats_planted_banner(spark):
    """A 10-word banner shared by two docs yields exactly the banner's
    interior 8-grams as duplicated instances in each; a unique doc
    scores 0.0; sub-n docs emit no row."""
    from pg_auto_dw_spark.functions.corpus import duplicated_span_stats

    banner = "please subscribe to our newsletter for updates every single day"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta " + banner + " epsilon zeta"),
            (2, "one two three four five " + banner + " six seven"),
            (3, "totally unique words nine ten eleven twelve thirteen fourteen"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicated_span_stats(docs, n=8).collect()}
    assert 4 not in out  # 2 tokens < n
    # banner has 10 words -> 3 fully-interior 8-grams; boundary grams
    # mix in per-doc context so only those 3 repeat across docs
    assert out[1]["n_dup_grams"] == 3 and out[2]["n_dup_grams"] == 3
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_frac"] == 0.0
    for r in out.values():
        assert r["n_grams"] >= r["n_dup_grams"]
    # n_grams = n_tokens - 7
    assert out[1]["n_grams"] == 16 - 7
    assert float(out[1]["dup_frac"]) == round(3 / 9, 6)


def test_ann_recall_harness(spark, sf_dir):
    """recall(exact, exact) is 1.0 everywhere; dropping one query from
    the approximate side surfaces as a preserved 0.0 row (not absent);
    IVF recall against brute force lands in (0, 1] with the macro
    summary consistent."""
    from pg_auto_dw_spark.functions.similarity import (
        ann_recall,
        ann_recall_summary,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    exact = brute_force_topk(emb, query_ids=qids, k=3)
    perfect = ann_recall(exact, exact).collect()
    assert len(perfect) == 10 and all(r["recall"] == 1.0 for r in perfect)
    s = ann_recall_summary(exact, exact).collect()[0]
    assert s["n_queries"] == 10 and s["macro_recall"] == 1.0
    assert s["min_recall"] == 1.0 and s["frac_perfect"] == 1.0
    # a query missing entirely from the approximate result -> recall 0.0
    dropped = ann_recall(exact.filter(F.col("query_id") != 0), exact).collect()
    by_q = {r["query_id"]: r for r in dropped}
    assert by_q[0]["recall"] == 0.0 and by_q[0]["n_true"] == 3
    # IVF vs brute force: bounded, non-trivial
    approx = ivf_topk(emb, k=3, stride=50).filter(F.col("query_id") < 10)
    s2 = ann_recall_summary(approx, exact).collect()[0]
    assert s2["n_queries"] == 10 and 0.0 < s2["macro_recall"] <= 1.0


def test_read_jsonl_quarantine(spark, tmp_path):
    """Malformed lines land verbatim in the quarantine, schema-drift
    lines too; clean output carries exactly the caller's schema; the
    caller's StructType comes back unmutated."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pg_auto_dw_spark.sources import read_jsonl_quarantine

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "second doc"}\n'
        "{broken json!!\n"
        '{"doc_id": "not-a-number", "text": "drifted types"}\n'
        '{"doc_id": 3, "text": "third doc"}\n'
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    n_fields_before = len(schema.fields)
    clean, quarantined = read_jsonl_quarantine(spark, str(p), schema)
    assert len(schema.fields) == n_fields_before  # not mutated
    rows = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert rows == {1: "hello world", 2: "second doc", 3: "third doc"}
    assert clean.columns == ["doc_id", "text"]
    bad = sorted(r["raw_line"] for r in quarantined.collect())
    assert bad == sorted(
        ["{broken json!!", '{"doc_id": "not-a-number", "text": "drifted types"}']
    )


def test_compression_ratio_signal(spark):
    """Repetitive text compresses below prose, random-ish hex above;
    empty doc -> NULL ratio; counts are exact byte counts."""
    import random

    from pg_auto_dw_spark.functions.text import compression_ratio

    rng = random.Random(42)
    noisy = "".join(rng.choice("0123456789abcdef") for _ in range(2000))
    docs = spark.createDataFrame(
        [
            (1, "spam " * 400),
            (2, "The quick brown fox jumps over the lazy dog. " * 40
                + "It was the best of times, it was the worst of times. " * 10),
            (3, noisy),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert out[1]["n_bytes"] == 2000
    assert out[1]["compression_ratio"] < out[2]["compression_ratio"] < out[3]["compression_ratio"]
    assert out[1]["compression_ratio"] < 0.05  # pure repetition collapses
    assert out[3]["compression_ratio"] > 0.5  # high-entropy text barely compresses
    assert out[4]["compression_ratio"] is None and out[4]["n_compressed"] == 0


def test_remove_duplicated_spans_cuts_planted_banner(spark):
    """The removal twin of duplicated_span_stats: the shared 10-word
    banner's covered positions (its 3 interior 8-grams span the whole
    banner) are struck from BOTH docs, context survives in order,
    unique and sub-n docs pass through verbatim (normalized), and
    NULL/empty texts emit zero-token rows rather than vanishing."""
    from pg_auto_dw_spark.functions.corpus import remove_duplicated_spans

    banner = "please subscribe to our newsletter for updates every single day"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta " + banner + " epsilon zeta"),
            (2, "one two three four five " + banner + " six seven"),
            (3, "totally unique words nine ten eleven twelve thirteen fourteen"),
            (4, "Short DOC!"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=8).collect()}
    assert len(out) == 5
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon zeta"
    assert out[1]["n_tokens"] == 16 and out[1]["n_removed"] == 10
    assert out[2]["clean_text"] == "one two three four five six seven"
    assert out[2]["n_removed"] == 10
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"].startswith("totally unique")
    # sub-n doc survives whole, in normalized token space
    assert out[4]["clean_text"] == "short doc" and out[4]["n_removed"] == 0
    assert out[5]["n_tokens"] == 0 and out[5]["clean_text"] == ""


def test_remove_duplicated_spans_full_coverage_doc(spark):
    """A doc that is one big duplicated span survives with empty
    clean_text (n_removed == n_tokens), and stats/scrub agree on what
    counts as duplicated: every doc the stats row marks fully
    duplicated scrubs to empty."""
    from pg_auto_dw_spark.functions.corpus import (
        duplicated_span_stats,
        remove_duplicated_spans,
    )

    text = "zero one two three four five six seven eight nine"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "an unrelated document with its own words here")],
        "doc_id long, text string",
    )
    scrub = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=8).collect()}
    assert scrub[1]["clean_text"] == "" and scrub[1]["n_removed"] == 10
    assert scrub[2]["clean_text"] == ""
    assert scrub[3]["n_removed"] == 0
    stats = {r["doc_id"]: r for r in duplicated_span_stats(docs, n=8).collect()}
    assert float(stats[1]["dup_frac"]) == 1.0
    assert float(stats[3]["dup_frac"]) == 0.0


def test_semantic_dedup_planted_duplicates(spark):
    """Exact duplicates collapse to the lowest id; a near-duplicate
    pair keeps the member farther from its centroid; every corpus
    vector gets exactly one verdict row; the verdict is deterministic
    across runs."""
    import random

    from pg_auto_dw_spark.functions.similarity import semantic_dedup

    def vec(seed):
        r = random.Random(seed)
        return [r.uniform(-1, 1) for _ in range(64)]

    rows = [(i, vec(i)) for i in range(200)]
    rows += [(300, vec(3)), (301, vec(3))]  # exact duplicates of id 3
    v5 = vec(5)
    rows.append((302, [x * 1.0001 + 0.0001 for x in v5]))  # near-dup of id 5
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.95, stride=50, iters=1).collect()
    d = {r["vec_id"]: r for r in out}
    assert len(out) == len(rows)  # one verdict per vector
    # identical trio: same cell, keep the lowest id only
    assert d[3]["cell"] == d[300]["cell"] == d[301]["cell"]
    assert d[3]["kept"] and not d[300]["kept"] and not d[301]["kept"]
    # near-dup pair: exactly one survivor
    assert d[5]["kept"] != d[302]["kept"]
    # unrelated vectors survive
    assert sum(1 for r in out if r["kept"]) == len(rows) - 3
    rerun = {r["vec_id"]: r["kept"] for r in semantic_dedup(
        df, threshold=0.95, stride=50, iters=1).collect()}
    assert rerun == {k: v["kept"] for k, v in d.items()}


def test_semantic_dedup_star_fallback_cap(spark):
    """With every cell forced over the cap the star path still emits
    one verdict per vector and never all-pairs; the uncapped and
    capped runs agree that exact duplicates lose their twin."""
    import random

    from pg_auto_dw_spark.functions.similarity import semantic_dedup

    def vec(seed):
        r = random.Random(seed)
        return [r.uniform(-1, 1) for _ in range(64)]

    rows = [(i, vec(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.95, stride=20, iters=1, max_cell_size=2)
    got = out.collect()
    assert len(got) == len(rows)
    assert {r["vec_id"] for r in got} == {r[0] for r in rows}


def test_gopher_rules_verdicts(spark):
    from pg_auto_dw_spark.functions.text import gopher_rules

    docs = spark.createDataFrame(
        [
            # passes everything: >=5 words (min_words=5 below), normal
            # word lengths, stopwords present, no bullets/ellipses
            (1, "the quick brown foxes jumped over the lazy dogs with ease"),
            # too few words
            (2, "the end"),
            # symbol-heavy: each '#' and '...' counts against 10% of words
            (3, "# # # # ... the and word word word"),
            # bullet lines dominate (3 of 3 lines)
            (4, "- one bullet the\n- two bullet of\n- three bullet and"),
            # ellipsis line endings dominate
            (5, "to be continued...\nmore of that...\nstill with it..."),
            # numeric words: alpha-word share too low
            (6, "the 1 2 3 4 5 6 7 8 9"),
            # no canonical stopword at all
            (7, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(docs, min_words=5, min_stopwords=1).collect()
    }
    assert out[1]["gopher_pass"]
    assert not out[2]["rule_word_count"] and not out[2]["gopher_pass"]
    assert not out[3]["rule_symbol_ratio"]
    assert not out[4]["rule_bullet_lines"]
    assert not out[5]["rule_ellipsis_lines"]
    assert not out[6]["rule_alpha_words"]
    assert not out[7]["rule_stopwords"]
    # integer-only contract: every emitted column is bigint or boolean
    kinds = {f.dataType.simpleString() for f in gopher_rules(docs).schema.fields}
    assert kinds <= {"bigint", "boolean"}


def test_bloom_decontaminate_superset_of_exact(spark, sf_dir):
    """The Bloom contract on real data: bloom_hit must cover every
    exact_hit (no false negatives), at any bitset size."""
    from pg_auto_dw_spark.functions.corpus import bloom_contamination_flags
    from pg_auto_dw_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    # deliberately tiny bitset so false positives actually occur
    flags = bloom_contamination_flags(docs, bench, n=8, m_bits=2**12, with_exact=True)
    rows = flags.collect()
    assert len(rows) == docs.count()
    fn = [r for r in rows if r["exact_hit"] and not r["bloom_hit"]]
    assert fn == []  # Bloom filters never produce false negatives
    # the benchmark members flag themselves (their grams are in the set)
    bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
    long_bench = {
        r["doc_id"]
        for r in rows
        if r["doc_id"] in bench_ids and r["exact_hit"]
    }
    for r in rows:
        if r["doc_id"] in long_bench:
            assert r["bloom_hit"]


def test_bloom_decontaminate_conservative(spark, sf_dir):
    """bloom_decontaminate keeps a SUBSET of decontaminate's survivors
    (false positives only ever drop extra docs, never keep tainted
    ones)."""
    from pg_auto_dw_spark.functions.corpus import bloom_decontaminate, decontaminate
    from pg_auto_dw_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").limit(200)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    exact = {r["doc_id"] for r in decontaminate(docs, bench).select("doc_id").collect()}
    bloom = {
        r["doc_id"]
        for r in bloom_decontaminate(docs, bench, m_bits=2**17).select("doc_id").collect()
    }
    assert bloom <= exact
    # at 2^17 bits the FP rate is ~1e-5/gram: expect near-equality
    assert len(exact) - len(bloom) <= 5


def test_bloom_build_validates_power_of_two(spark):
    import pytest as _pytest

    from pg_auto_dw_spark.functions.corpus import bloom_build

    bench = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError):
        bloom_build(bench, m_bits=1000)


def test_equi_width_histogram_exact_counts(spark):
    from pg_auto_dw_spark.functions.sketch import equi_width_histogram

    df = spark.createDataFrame(
        [("a", -5.0), ("a", 0.0), ("a", 24.999), ("a", 25.0), ("a", 499.0),
         ("a", 730.0), ("b", 50.0)],
        "k string, v double",
    )
    out = {
        (r["k"], r["bucket"]): r["cnt"]
        for r in equi_width_histogram(df, ["k"], "v", 0.0, 500.0, 20).collect()
    }
    # -5 clamps into bucket 0; 730 clamps into bucket 19; 25.0 is the
    # half-open boundary (bucket 1)
    assert out == {("a", 0): 3, ("a", 1): 1, ("a", 19): 2, ("b", 2): 1}


def test_read_csv_quarantine(spark, tmp_path):
    from pg_auto_dw_spark.sources import read_csv_quarantine
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / "land"
    p.mkdir()
    (p / "part1.csv").write_text(
        "id,name,score\n"
        "1,alpha,0.5\n"
        "2,beta,0.75\n"
        "3,gamma\n"               # short row
        "4,delta,notanumber\n"    # type drift
        "5,epsilon,1.0,extra\n"   # long row
        "garbage line without commas\n"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    clean, quar = read_csv_quarantine(spark, str(p), schema, header=True)
    assert sorted(tuple(r) for r in clean.collect()) == [
        (1, "alpha", 0.5),
        (2, "beta", 0.75),
    ]
    assert sorted(r["raw_line"] for r in quar.collect()) == [
        "3,gamma",
        "4,delta,notanumber",
        "5,epsilon,1.0,extra",
        "garbage line without commas",
    ]
    # schema object must come back unmutated (no corrupt col leaked in)
    assert [f.name for f in schema.fields] == ["id", "name", "score"]


def test_validate_constraints_clean_and_dirty(spark):
    from pg_auto_dw_spark.catalog.profile import validate_constraints

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (2, 20), (3, None), (4, 99)],
        "id long, parent_id long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pid long")
    out = {
        (r["constraint_type"], r["columns"]): (r["n_violations"], r["is_valid"])
        for r in validate_constraints(
            child,
            pk_columns=["id"],
            not_null=["parent_id"],
            fk={"parent_id": (parent, "pid")},
        ).collect()
    }
    # id=2 twice -> 1 excess row
    assert out[("pk_unique", "id")] == (1, False)
    assert out[("not_null", "parent_id")] == (1, False)
    # parent_id=99 has no parent; the NULL is exempt
    assert out[("fk_orphan", "parent_id")] == (1, False)

    clean = validate_constraints(
        parent.withColumnRenamed("pid", "id"), pk_columns=["id"]
    ).collect()
    assert [(r["n_violations"], r["is_valid"]) for r in clean] == [(0, True)]


def test_validate_constraints_null_pk_parts_violate(spark):
    from pg_auto_dw_spark.catalog.profile import validate_constraints

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, "c"), (2, None)],
        "k1 long, k2 string",
    )
    out = validate_constraints(df, pk_columns=["k1", "k2"]).collect()[0]
    # rows 2-4 all have a NULL key part -> 3 violations; (1,a) is fine
    assert out["n_violations"] == 3
    assert not out["is_valid"]


def test_validate_constraints_empty_declaration(spark):
    from pg_auto_dw_spark.catalog.profile import validate_constraints

    df = spark.createDataFrame([(1,)], "id long")
    assert validate_constraints(df).count() == 0


def test_equi_width_histogram_excludes_nulls(spark):
    from pg_auto_dw_spark.functions.sketch import equi_width_histogram

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", None)], "k string, v double"
    )
    out = {
        (r["k"], r["bucket"]): r["cnt"]
        for r in equi_width_histogram(df, ["k"], "v", 0.0, 100.0, 10).collect()
    }
    # NULLs are excluded, never silently clamped into bucket 0
    assert out == {("a", 0): 1}


def test_csv_quarantine_regex_metachar_separator(spark, tmp_path):
    from pg_auto_dw_spark.sources import read_csv_quarantine
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = tmp_path / "pipes"
    p.mkdir()
    (p / "f.csv").write_text("1|alpha\n2|beta\n3|gamma|extra\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    clean, quar = read_csv_quarantine(spark, str(p), schema, sep="|")
    assert sorted(tuple(r) for r in clean.collect()) == [(1, "alpha"), (2, "beta")]
    assert [r["raw_line"] for r in quar.collect()] == ["3|gamma|extra"]


def test_bloom_prebuilt_carries_gram_size(spark):
    """A prebuilt bloom probes with the gram size it was BUILT with --
    the n parameter cannot silently mismatch."""
    from pg_auto_dw_spark.functions.corpus import (
        bloom_build,
        bloom_contamination_flags,
    )

    bench = spark.createDataFrame(
        [(1, "one two three four five")], "doc_id long, text string"
    )
    bloom = bloom_build(bench, n=3)
    docs = spark.createDataFrame(
        [(10, "xx one two three yy"), (11, "nothing shared at all here")],
        "doc_id long, text string",
    )
    # default n=8 would find no 8-grams anywhere; the stored n=3 must win
    out = {r["doc_id"]: r["bloom_hit"]
           for r in bloom_contamination_flags(docs, bloom=bloom).collect()}
    assert out == {10: True, 11: False}


def test_shard_assignments_deterministic_and_balanced(spark, sf_dir):
    from pg_auto_dw_spark.functions.shard import shard_assignments
    from pg_auto_dw_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = shard_assignments(docs, 8, seed=1)
    b = shard_assignments(docs.repartition(13), 8, seed=1)
    ra = {(r["doc_id"], r["shard"], r["shuffle_key"]) for r in a.collect()}
    rb = {(r["doc_id"], r["shard"], r["shuffle_key"]) for r in b.collect()}
    assert ra == rb  # partitioning-independent
    sizes = [r["cnt"] for r in a.groupBy("shard").agg(F.count("*").alias("cnt")).collect()]
    n = docs.count()
    assert len(sizes) == 8
    assert max(sizes) < 2 * n / 8  # md5 spreads roughly evenly
    # a different seed is a different epoch order
    c = {(r["doc_id"], r["shuffle_key"])
         for r in shard_assignments(docs, 8, seed=2).collect()}
    assert c != {(d, k) for d, s, k in ra}


def test_write_and_read_training_shards_ordered(spark, tmp_path, sf_dir):
    from pg_auto_dw_spark.functions.shard import (
        read_shard,
        shard_assignments,
        write_training_shards,
    )
    from pg_auto_dw_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(300)
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=4, seed=7)
    expected = {}
    for r in shard_assignments(docs, 4, seed=7).collect():
        expected.setdefault(r["shard"], []).append((r["shuffle_key"], r["doc_id"]))
    total = 0
    for s in range(4):
        got = [(r["shuffle_key"], r["doc_id"]) for r in read_shard(spark, path, s).collect()]
        assert got == sorted(expected[s])  # written in shuffle_key order
        total += len(got)
    assert total == 300


def test_grouped_correlations_exact(spark):
    from pg_auto_dw_spark.functions.stats import grouped_correlations

    rows = [("g", float(i), 2.0 * i + 1.0, float(-i), None if i == 2 else 5.0)
            for i in range(6)]
    df = spark.createDataFrame(rows, "k string, a double, b double, c double, d double")
    out = {
        (r["col_x"], r["col_y"]): r
        for r in grouped_correlations(df, ["k"], ["a", "b", "c", "d"]).collect()
    }
    assert len(out) == 6  # C(4,2) pairs, one group
    assert abs(out[("a", "b")]["corr"] - 1.0) < 1e-12      # perfectly linear
    assert abs(out[("a", "c")]["corr"] + 1.0) < 1e-12      # anti-correlated
    assert out[("a", "d")]["corr"] is None                  # constant column
    assert out[("a", "d")]["n_pairs"] == 5                  # pairwise null drop
    # covar of a with b=2a+1 over 0..5: var(a)*2
    import statistics
    var_a = statistics.variance(range(6))
    assert abs(out[("a", "b")]["covar_samp"] - 2 * var_a) < 1e-9


def test_grouped_correlations_single_pass_plan(spark, sf_dir):
    """All pairs aggregate in ONE exchange (no per-pair scans)."""
    from pg_auto_dw_spark.functions.stats import grouped_correlations
    from pg_auto_dw_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "v2", F.col("value") * 2
    ).withColumn("v3", F.col("value") + F.col("user_id"))
    plan = grouped_correlations(ev, ["event_type"], ["value", "v2", "v3"])._jdf.queryExecution().explainString(
        ev._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("\n\n")[0]
    assert sum("Exchange" in ln for ln in tree.splitlines()) == 1


def test_drift_report_detects_shift(spark):
    from pg_auto_dw_spark.functions.stats import drift_report

    old = spark.createDataFrame(
        [("g", float(i % 100)) for i in range(1000)], "k string, v double"
    )
    same = spark.createDataFrame(
        [("g", float((i * 7) % 100)) for i in range(1000)], "k string, v double"
    )
    shifted = spark.createDataFrame(
        [("g", 80.0 + (i % 20)) for i in range(1000)], "k string, v double"
    )
    stable = drift_report(old, same, ["k"], "v", 0.0, 100.0, 10).collect()[0]
    moved = drift_report(old, shifted, ["k"], "v", 0.0, 100.0, 10).collect()[0]
    assert stable["psi"] < 0.01          # same distribution
    assert moved["psi"] > 0.25           # concentrated in the top buckets
    assert stable["n_old"] == stable["n_new"] == 1000
    # PSI is symmetric-ish in magnitude and always non-negative
    assert moved["psi"] >= 0 and stable["psi"] >= 0


def test_drift_report_absent_buckets_smoothed(spark):
    from pg_auto_dw_spark.functions.stats import drift_report

    old = spark.createDataFrame([("g", 5.0)] * 10, "k string, v double")
    new = spark.createDataFrame([("g", 95.0)] * 10, "k string, v double")
    out = drift_report(old, new, ["k"], "v", 0.0, 100.0, 10).collect()[0]
    # totally disjoint buckets: finite (epsilon-smoothed), large PSI
    import math
    assert math.isfinite(out["psi"]) and out["psi"] > 1.0


def test_grouped_correlations_no_catastrophic_cancellation(spark):
    """Epoch-millisecond-scale values (|mean| >> spread) must still
    correlate exactly -- the naive sum-of-squares moments lose the
    entire variance to cancellation here."""
    from pg_auto_dw_spark.functions.stats import grouped_correlations

    base = 1_700_000_000_000.0
    rows = [("g", base + i * 1000.0, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, ts double, v double")
    out = grouped_correlations(df, ["k"], ["ts", "v"]).collect()[0]
    assert abs(out["corr"] - 1.0) < 1e-9
    assert out["covar_samp"] > 0


def test_read_shard_empty_shard_returns_empty(spark, tmp_path):
    from pg_auto_dw_spark.functions.shard import read_shard, write_training_shards

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    path = str(tmp_path / "sh")
    write_training_shards(docs, path, n_shards=8, seed=0)
    total = 0
    for s in range(8):  # must not raise on shards that got zero rows
        total += read_shard(spark, path, s).count()
    assert total == 2


def test_pack_sequences_with_precomputed_counts(spark):
    from pg_auto_dw_spark.functions.corpus import pack_sequences

    docs = spark.createDataFrame(
        [(1, "ignored"), (2, "ignored"), (3, "ignored")], "doc_id long, text string"
    )
    counts = spark.createDataFrame(
        [(1, 100), (2, 50), (3, 10)], "doc_id long, n_bpe_tokens long"
    )
    out = pack_sequences(docs, seq_tokens=64, token_counts_df=counts).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert {r["doc_id"]: r["n_bpe_tokens"] for r in out} == {1: 100, 2: 50, 3: 10}
    # contiguous placement over the exact counts, 160 tokens total
    offs = sorted((r["global_offset"], r["n_bpe_tokens"]) for r in out)
    pos = 0
    for o, n in offs:
        assert o == pos
        pos += n
    assert pos == 160
    assert all(r["seq_id"] == r["global_offset"] // 64 for r in out)


def test_ivf_health_concentration_reads_imbalanced(spark, sf_dir, tmp_path_factory):
    """All vectors crammed into few of many codebook cells must read as
    IMBALANCED (mean is over codebook cells, not live cells)."""
    from pg_auto_dw_spark.functions.similarity import (
        build_ivf_index,
        ivf_index_health,
    )
    from pg_auto_dw_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("conc")))
    emb = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(wh, emb, "cx.emb", stride=10)  # many cells
    h = ivf_index_health(wh, "cx.emb")
    # fake concentration: rewrite assignment with every vector in cell 0
    a = wh.read("cx.emb.assignment")
    crammed = a.withColumn("cell", F.lit(0).cast(dict(a.dtypes)["cell"]))
    wh.overwrite("cx.emb.assignment", crammed)
    h2 = ivf_index_health(wh, "cx.emb")
    assert h2["n_live_cells"] == 1
    assert h2["imbalance"] > h["imbalance"]
    assert h2["imbalanced"]


def test_pipeline_mixture_requires_budget(spark, sf_dir):
    import pytest as _pytest

    from pg_auto_dw_spark.pipeline import CorpusPipelineConfig, build_training_corpus

    docs = load_table(spark, sf_dir, "documents").limit(10)
    with _pytest.raises(ValueError, match="budget_rows"):
        build_training_corpus(
            docs, config=CorpusPipelineConfig(strata_col="source")
        )


def test_assemble_packed_sequences_exact_coverage(spark):
    """Every sequence is exactly seq_tokens long (final one partial),
    concatenating the sequences reproduces the docs' token streams in
    placement order, and boundary-spanning docs split correctly."""
    from pg_auto_dw_spark.functions.corpus import (
        assemble_packed_sequences,
        pack_sequences,
    )
    from pg_auto_dw_spark.functions.tokenizer import bpe_apply

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(7 + i))) for i in range(12)],
        "doc_id long, text string",
    )
    toks = bpe_apply(docs, [], with_tokens=True).select("doc_id", "tokens")
    seqs = assemble_packed_sequences(docs, toks, seq_tokens=32).collect()
    by_seq = {r["seq_id"]: r for r in sorted(seqs, key=lambda r: r["seq_id"])}
    total = sum(r["n_tokens"] for r in seqs)
    # full coverage: every token placed exactly once
    want_total = sum(
        r["n_bpe_tokens"]
        for r in pack_sequences(
            docs, 32,
            token_counts_df=toks.select(
                "doc_id", F.size("tokens").alias("n_bpe_tokens")
            ),
        ).collect()
    )
    assert total == want_total
    seq_ids = sorted(by_seq)
    assert seq_ids == list(range(len(seq_ids)))  # contiguous
    for s in seq_ids[:-1]:
        assert by_seq[s]["n_tokens"] == 32  # all full except the last
    assert 0 < by_seq[seq_ids[-1]]["n_tokens"] <= 32
    # stream equality: concatenated sequences == docs laid out in
    # placement order
    placement = pack_sequences(
        docs, 32,
        token_counts_df=toks.select("doc_id", F.size("tokens").alias("n_bpe_tokens")),
    ).collect()
    tok_map = {r["doc_id"]: r["tokens"] for r in toks.collect()}
    stream = []
    for r in sorted(placement, key=lambda r: r["global_offset"]):
        stream.extend(tok_map[r["doc_id"]])
    got = []
    for s in seq_ids:
        got.extend(by_seq[s]["tokens"])
    assert got == stream
