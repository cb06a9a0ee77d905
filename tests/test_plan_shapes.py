"""Physical-plan regression tests: the properties that matter at
100 TB, asserted on the actual optimized plans (explain-only, nothing
is executed).

- No CartesianProduct anywhere in the registered query catalog: every
  intentional cross join is a broadcast (BroadcastNestedLoopJoin of a
  scalar/codebook side), never a shuffled cartesian.
- Filter pushdown reaches the parquet scans (PushedFilters).
- Small dimension joins broadcast (no data-side shuffle).
"""

from pyspark.sql import functions as F

from pg_auto_dw_spark.queries_catalog import queries
from pg_auto_dw_spark.sources import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_no_cartesian_product_in_any_registered_query(spark, sf_dir):
    offenders = []
    for name, fn in queries().items():
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """A filtered, projected read must show both PushedFilters and a
    pruned ReadSchema on the scan."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    ).select("o_orderkey")
    plan = _plan(o)
    assert "PushedFilters" in plan
    assert "EqualTo(o_orderstatus,O)" in plan
    # column pruning: the scan reads only the two needed columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "o_totalprice" not in read[0]


def test_small_dimension_join_broadcasts(spark, sf_dir):
    """q5-style star join: region/nation dimensions must broadcast."""
    from pg_auto_dw_spark.queries_catalog import q5_local_supplier_volume

    plan = _plan(q5_local_supplier_volume(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_no_forced_broadcast_on_scaling_dimensions(spark, sf_dir):
    """customer/supplier/orders/lineitem/part grow linearly with SF; a
    forced broadcast hint on them overrides AQE's size check and OOMs at
    the 100 TB target. Only constant-size dims (nation: 25 rows, region:
    5) may carry an explicit hint. Checked on the analyzed logical plan,
    where ResolvedHint nodes still name their child relation."""
    # Relation nodes print column lists, not paths -- identify scaling
    # tables by their signature key column.
    scaling = ("c_custkey", "s_suppkey", "o_orderkey", "l_orderkey", "p_partkey")
    for name, fn in queries().items():
        plan = _analyzed(fn(spark, sf_dir))
        # each ResolvedHint prints followed by its child subtree; a scan
        # of a scaling table inside the immediate child block is a bug
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "ResolvedHint" not in ln:
                continue
            depth = len(ln) - len(ln.lstrip(" :+-"))
            for child in lines[i + 1 : i + 8]:
                cdepth = len(child) - len(child.lstrip(" :+-"))
                if cdepth <= depth:
                    break
                if "Relation" in child and any(k in child for k in scaling):
                    raise AssertionError(
                        f"{name}: forced broadcast hint over scaling table: {child.strip()}"
                    )


def test_no_unbounded_sql_cache_in_package():
    """Policy guard (r6, from the measured r5 regression): ``persist()``
    on a DataFrame builds a compressed columnar InMemoryRelation and
    lives until unpersisted -- under a multi-query session the entries
    evict each other out of the storage pool and every call re-pays the
    cache build (BENCH_r05: 2-2.7x slowdowns on the pinned ANN paths).
    Allowed form: a persist() paired with an unpersist() in the same
    file (bounded lifetime, as the hub/sat/link loaders do). Everything
    else must use localCheckpoint (RDD block pin) or an explicit
    eager-checkpointed per-session index (queries_catalog._ivf_index).
    """
    import os
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "pg_auto_dw_spark")
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                src = f.read()
            # strip comments so prose mentions don't count
            code = "\n".join(ln.split("#")[0] for ln in src.splitlines())
            n_persist = len(re.findall(r"\.persist\(", code))
            n_unpersist = len(re.findall(r"\.unpersist\(", code))
            assert n_persist == n_unpersist, (
                f"{path}: {n_persist} persist() vs {n_unpersist} unpersist() -- "
                "unbounded SQL cache entries regress the bench (see r5 post-mortem "
                "in similarity.brute_force_topk)"
            )


def test_vault_hashing_only_in_hashing_module():
    """Policy guard: business-key text is rendered, joined and hashed in
    one place, ``functions/hashing.py`` -- a second ``concat_ws``/``sha2``
    in the vault builders is how batch, streaming and oracle hashes
    drift apart."""
    import os
    import re

    build = os.path.join(os.path.dirname(__file__), "..", "pg_auto_dw_spark", "build")
    for fn in sorted(os.listdir(build)):
        if not fn.endswith(".py"):
            continue
        with open(os.path.join(build, fn)) as f:
            code = "\n".join(ln.split("#")[0] for ln in f.read().splitlines())
        found = re.findall(r"\bF\.(sha2|concat_ws)\(", code)
        assert not found, (
            f"build/{fn} calls F.{found[0]}(: render and hash business keys "
            "through functions/hashing.py (key_text, sha256_hex, hash_key)"
        )


def test_dv_staging_dedup_shuffles_prehash_strings(spark, sf_dir):
    """Hub/sat/link staging dedups on the short pre-hash joined key and
    computes sha256 AFTER the exchange: at warehouse scale the dedup
    shuffle width is the dominant staging cost, and a digest-first plan
    would move four 64-char hex strings per row instead of the rendered
    keys. Guard: in the formatted plan, every sha2 appears in a node
    listed BEFORE the first Exchange's subtree output -- i.e. no sha2
    in any project below the exchange."""
    from pg_auto_dw_spark.build.link import link_stage_df
    from pg_auto_dw_spark.build.loader import hub_stage_df, satellite_stage_df
    from pg_auto_dw_spark.queries_catalog import (
        customer_business_key,
        lineitem_link_spec,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    for df in (
        link_stage_df(li, lineitem_link_spec()),
        hub_stage_df(cust, customer_business_key()),
        satellite_stage_df(cust, customer_business_key(), "customer"),
    ):
        plan = _plan(df)
        # formatted explain lists operators leaves-last in the tree
        # header; use the detail section ordering instead: find each
        # numbered node, and require the node containing sha2 to have a
        # SMALLER number than the Exchange (formatted numbering is
        # topological: children get larger ids than parents).
        import re

        node_ids = {
            int(m.group(1)): m.group(2)
            for m in re.finditer(r"\((\d+)\) (\w+)", plan)
        }
        exchange_ids = [i for i, n in node_ids.items() if n == "Exchange"]
        assert exchange_ids, "staging plan lost its dedup exchange"
        # locate sha2 via the detail blocks: each block starts "(<id>) <op>"
        blocks = re.split(r"\n(?=\(\d+\) )", plan)
        sha_ids = []
        for b in blocks:
            m = re.match(r"\((\d+)\) ", b)
            if m and "sha2" in b:
                sha_ids.append(int(m.group(1)))
        assert sha_ids, "staging plan lost its sha2 hashing"
        # formatted numbering is leaves-first: (1) is the scan and ids
        # grow toward the root, so "above the exchange" means a LARGER
        # id; sha2 below the exchange would get a smaller one
        assert min(sha_ids) > max(exchange_ids), (
            f"sha2 computed below the dedup exchange: sha nodes {sha_ids}, "
            f"exchanges {exchange_ids}"
        )


def test_gopher_rules_is_map_only(spark, sf_dir):
    """The rule filter must not shuffle: no Exchange in the plan."""
    from pg_auto_dw_spark.functions.text import gopher_rules

    plan = _plan(gopher_rules(load_table(spark, sf_dir, "documents")))
    assert "Exchange" not in plan


def test_bloom_probe_is_shuffle_free(spark, sf_dir):
    """The Bloom probe (production path, no exact verifier) is a pure
    map over the corpus: the per-doc gram array probes the broadcast
    bitset in place -- no Exchange of corpus data anywhere (the only
    exchange-free exception allowed is the 1-row bitset broadcast)."""
    from pg_auto_dw_spark.functions.corpus import bloom_contamination_flags

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(bloom_contamination_flags(docs, bench, m_bits=2**17))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # no shuffle exchange at all; broadcast exchange of the bitset only
    tree = plan.split("\n\n")[0]
    shuffles = [ln for ln in tree.splitlines()
                if "Exchange" in ln and "Broadcast" not in ln]
    assert shuffles == []


def test_equi_width_histogram_partial_aggregates(spark, sf_dir):
    """The histogram must map-side combine: a partial HashAggregate
    before the single exchange."""
    from pg_auto_dw_spark.functions.sketch import equi_width_histogram

    plan = _plan(
        equi_width_histogram(
            load_table(spark, sf_dir, "events"), ["event_type"], "value", 0.0, 500.0, 20
        )
    )
    # exactly one shuffle node in the plan tree (the formatted detail
    # section repeats node names, so count tree lines, not substrings)
    tree = plan.split("\n\n")[0]
    assert sum("Exchange" in ln for ln in tree.splitlines()) == 1
    assert "partial_count" in plan


def test_overlap_matrix_single_scan_no_selfjoin(spark, sf_dir):
    """source_overlap_matrix must read the corpus ONCE (the vocabulary
    aggregation) -- no self-join back to a second scan, no cartesian.
    Windows over the sources^2 matrix do the diagonal pull."""
    from pg_auto_dw_spark.functions.corpus import source_overlap_matrix

    plan = _plan(source_overlap_matrix(load_table(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]  # formatted explain repeats ops in detail
    assert tree.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_datacard_is_one_aggregation_pass(spark, sf_dir):
    """corpus_datacard: one scan, no joins -- every statistic is a
    conditional aggregate in a single groupBy."""
    from pg_auto_dw_spark.functions.datacard import corpus_datacard

    plan = _plan(corpus_datacard(load_table(spark, sf_dir, "documents")))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree


def test_semsearch_query_partition_prunes(spark, tmp_path):
    """search_chunks must read only the probed cells of the assignment
    table: the scan's partition filter carries the cell pruning."""
    from pg_auto_dw_spark.functions.semsearch import (
        build_chunk_search_index,
        search_chunks,
    )
    from pg_auto_dw_spark.warehouse import Warehouse

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
         for i in range(40)],
        "doc_id bigint, text string",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_chunk_search_index(wh, docs, "sem", chunk_words=6, stride=6,
                             dims=16, kmeans_stride=8)
    plan = _plan(search_chunks(wh, "sem", "alpha beta gamma", k=3))
    assert "PartitionFilters: [" in plan
    # the cell filter must actually appear in the partition filters,
    # not as a post-scan filter over all partitions
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln for ln in pf)


def test_dedup_ledger_subtree_never_shuffles(spark, tmp_path):
    """Directive r9 #1: the digest-ledger check must SCAN the ledger,
    never shuffle it. _ledger_unseen puts the (corpus-scale) ledger on
    the LEFT of a left_semi against the broadcast batch digests, then
    anti-joins the broadcast hit set -- so the only Exchanges anywhere
    are BroadcastExchanges of batch-sized sides, at ANY ledger size
    (the shape is hint-forced, not AQE-threshold-dependent)."""
    from pg_auto_dw_spark.streaming.jobs import _ledger_unseen
    from pg_auto_dw_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ledger_rows = spark.range(2000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("digest"),
        F.col("id").alias("first_id"),
    )
    wh.create_table("c.digests", ledger_rows.schema)
    wh.append("c.digests", ledger_rows)
    ledger = wh.read("c.digests").select(F.col("digest").alias("__digest"))
    batch = spark.range(5).select(
        F.sha2(F.col("id").cast("string"), 256).alias("__digest"),
        F.col("id").alias("doc_id"),
    )
    plan = _plan(_ledger_unseen(ledger, batch))
    # both joins broadcast the batch-sized side (build right)
    assert "BroadcastHashJoin LeftSemi BuildRight" in plan
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # no shuffle Exchange anywhere -- broadcast exchanges only
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert shuffles == []


def test_neardup_ledger_probes_never_shuffle(spark, tmp_path):
    """The near-dup ingest's two corpus-scale sidecars (bands,
    signatures) must be probed by SCAN, never shuffled: each is the
    LEFT of a left_semi against a broadcast batch-sized key frame
    (_ledger_hits). Hint-forced, so the shape holds at any ledger
    size."""
    from pg_auto_dw_spark.streaming.jobs import _ledger_hits
    from pg_auto_dw_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    bands = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("int").alias("band"),
        F.md5(F.col("id").cast("string")).alias("band_key"),
    )
    wh.create_table("c.docs.bands", bands.schema)
    wh.append("c.docs.bands", bands)
    probe = spark.range(5).select(
        (F.col("id") % 4).cast("int").alias("band"),
        F.md5(F.col("id").cast("string")).alias("band_key"),
    )
    plan = _plan(_ledger_hits(wh.read("c.docs.bands"), probe, ["band", "band_key"]))
    assert "BroadcastHashJoin LeftSemi BuildRight" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert shuffles == []


def test_ivf_search_frame_no_cartesian(spark, tmp_path):
    """The distributed frame search must never materialize
    query x centroid or query x corpus pair rows: codebook scoring is
    an Arrow closure kernel, candidate scoring a cell cogroup -- no
    CartesianProduct, no BroadcastNestedLoopJoin anywhere."""
    from pg_auto_dw_spark.functions.retrieval import ivf_search_frame
    from pg_auto_dw_spark.functions.similarity import build_ivf_index
    from pg_auto_dw_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    vecs = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"), (F.col("id") % 5).cast("double")
        ).alias("embedding"),
    )
    build_ivf_index(wh, vecs, "pf", stride=20, dims=2, seed_hash=True)
    queries = vecs.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(ivf_search_frame(wh, "pf", queries, k=3, n_probes=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan


def test_neardup_sidecar_scan_partition_prunes(spark, tmp_path):
    """The band sidecar is partitioned by a hash bucket of band_key and
    the probe filters the batch's bucket set BEFORE the semi join --
    the scan must show PartitionFilters on __bucket, not a post-scan
    filter over all partitions."""
    from pg_auto_dw_spark.streaming.jobs import neardup_ingest_apply
    from pg_auto_dw_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(i, f"document number {i} with several shingle-worthy words "
              f"about topic {i % 5} and more text to shingle") for i in range(30)],
        "doc_id bigint, text string",
    )
    neardup_ingest_apply(wh, "c.docs", docs, n_sidecar_parts=64)
    ledger = wh.read("c.docs.bands").filter(F.col("__bucket").isin([3, 7]))
    plan = _plan(ledger)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("__bucket" in ln for ln in pf), plan[:2000]


def test_winnow_neardup_pairs_no_cartesian_and_capped(spark, sf_dir):
    """winnow_near_dup_pairs (r11): the candidate stage is a
    fingerprint-bucket join, never a cartesian; the hot-bucket cap's
    row_number window is present; and the verify joins hash on the
    pair ids (candidate-bounded)."""
    from pg_auto_dw_spark.functions.text import winnow_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(winnow_near_dup_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "row_number" in plan  # the max_bucket_size cap window
    # verify stage: plain hash joins on id_a/id_b, no nested loop
    assert "BroadcastNestedLoopJoin" not in plan


def test_band_pair_candidates_star_caps_within_batch(spark):
    """The shared generator (r11, used by BOTH batch LSH and the
    near-dup ingest's within-batch collapse) must not contain a
    band-table self-join cartesian, and the oversized-bucket path must
    be a union of the array-generated small pairs and the streamed
    star pairs."""
    from pg_auto_dw_spark.functions.dedup import (
        band_pair_candidates,
        lsh_band_keys_wide,
        minhash_signatures_wide,
    )

    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with shared words") for i in range(40)],
        "doc_id bigint, text string",
    )
    bands = lsh_band_keys_wide(
        minhash_signatures_wide(docs, "text", "doc_id", 16, 5), "doc_id", 4
    )
    plan = _plan(band_pair_candidates(bands, max_bucket_size=8))
    assert "CartesianProduct" not in plan
    assert "Union" in plan  # small all-pairs + big star branches


def test_preference_pairs_no_cartesian_capped(spark):
    """preference_pairs all_pairs (r11): the per-prompt pair fan-out is
    an equi-join on the prompt key (never a cartesian) and the
    max_pairs_per_prompt row_number cap is in the plan."""
    from pg_auto_dw_spark.functions.preference import preference_pairs

    ratings = spark.createDataFrame(
        [(i % 5, i, float(i % 7)) for i in range(40)],
        "prompt_id bigint, response_id bigint, score double",
    )
    plan = _plan(preference_pairs(ratings, strategy="all_pairs"))
    assert "CartesianProduct" not in plan
    assert "row_number" in plan


def test_classifier_training_broadcasts_model(spark):
    """train_linear_classifier (r11): the per-iteration weights join
    must BROADCAST the <= buckets model side (never shuffle the
    feature matrix for it), and the plan stays cartesian-free."""
    from pg_auto_dw_spark.functions.selection import (
        _doc_bucket_counts,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(20)],
        "doc_id bigint, text string",
    )
    mat = _doc_bucket_counts(docs, "text", "doc_id", 256)
    weights = spark.range(256).select(
        F.col("id").alias("b"), F.lit(0.0).alias("__w")
    )
    scored = (
        mat.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("__w")).alias("__s"))
    )
    plan = _plan(scored)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_render_preference_pairs_hash_joins_only(spark):
    """render_preference_pairs (r11): three pair-bounded id-key hash
    joins, no cartesian, no nested loop."""
    from pg_auto_dw_spark.functions.preference import (
        preference_pairs,
        render_preference_pairs,
    )

    ratings = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.1)],
        "prompt_id bigint, response_id bigint, score double",
    )
    prompts = spark.createDataFrame([(1, "q")], "prompt_id bigint, prompt string")
    responses = spark.createDataFrame(
        [(10, "a"), (11, "b")], "response_id bigint, response string"
    )
    plan = _plan(
        render_preference_pairs(preference_pairs(ratings), prompts, responses)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_image_neardup_pair_join_is_equi_not_cartesian(spark, sf_dir):
    """r12: the perceptual-hash pair join rides the pigeonhole
    (pos, val) equi keys -- the pair space must never materialize as a
    cartesian, and the hot-bucket cap windows on the same keys."""
    from pg_auto_dw_spark.functions.multimodal import (
        image_near_dup_pairs,
        synth_media_df,
    )
    from pg_auto_dw_spark.sources import load_table

    media = synth_media_df(load_table(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "image"
    )
    plan = _plan(image_near_dup_pairs(media))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_gate_model_side_broadcasts(spark):
    """r12: the streaming quality gate's classifier join must build on
    the bounded (b, wt) model side -- the corpus/batch side never
    shuffles for the model."""
    from pg_auto_dw_spark.functions.selection import (
        hashed_linear_score,
        train_linear_classifier,
    )

    pos = spark.createDataFrame(
        [(1, "good clean text the and of"), (2, "more good text the a")],
        "doc_id bigint, text string",
    )
    neg = spark.createDataFrame(
        [(3, "zz qq vv kk the"), (4, "ww rr tt yy a")],
        "doc_id bigint, text string",
    )
    weights, _ = train_linear_classifier(pos, neg, iters=1)
    plan = _plan(hashed_linear_score(pos.unionByName(neg), weights=weights))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_media_ledger_probe_never_shuffles(spark, tmp_path):
    """The media zone's chunk-key sidecar rides the SAME _ledger_hits
    shape as the text zones: ledger as the LEFT of a left_semi against
    the broadcast batch (media_type, pos, val) keys -- one scan, zero
    ledger shuffle at any corpus size."""
    from pg_auto_dw_spark.streaming.jobs import _ledger_hits
    from pg_auto_dw_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    chunks = spark.range(3000).select(
        F.col("id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.lit(0).cast("int").alias("frame_no"),
        (F.col("id") % 8).cast("int").alias("pos"),
        (F.col("id") % 251).alias("val"),
    )
    wh.create_table("m.corpus.chunks", chunks.schema)
    wh.append("m.corpus.chunks", chunks)
    probe = spark.range(6).select(
        F.lit("image").alias("media_type"),
        (F.col("id") % 8).cast("int").alias("pos"),
        (F.col("id") % 251).alias("val"),
    )
    plan = _plan(
        _ledger_hits(
            wh.read("m.corpus.chunks"), probe, ["media_type", "pos", "val"]
        )
    )
    assert "BroadcastHashJoin LeftSemi BuildRight" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln
    ] == []
