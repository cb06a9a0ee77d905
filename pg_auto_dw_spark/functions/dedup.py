"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard.

Scale design (the whole point of these shapes at 100 TB):

- **exact**: one hash-partitioned groupBy on a 64-hex digest --
  uniformly distributed keys, no skew, one shuffle.
- **minhash_lsh**: per-doc signature is a narrow map (explode shingles
  -> 16 min-aggregations); candidate generation shuffles on *band key*
  only, so similar docs co-locate and the cross product stays within
  buckets. Never computes the O(n^2) pair matrix.
- **simhash**: 32-bit fingerprint via bit-vote aggregation; near-dup
  pairs = same blocking key + hamming distance <= k on a 64-bit int --
  cheap bit_count(xor) comparisons.
- **ngram_jaccard**: exact pairwise verifier, meant to run AFTER a
  candidate generator (LSH buckets / blocking), never globally.

Hash functions are md5/sha2 built-ins: engine-portable (oracle parity)
and codegen'd. The min-over-fixed-length-lowercase-hex trick makes
MIN(md5(...)) a valid uniform minhash without any hex->int conversion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import normalized_text


def shingles_of(norm: Column, k: int = 5) -> Column:
    """Distinct k-character shingles of an already-bound normalized-text
    column. Callers must bind the normalization to a column first --
    inlining it here re-runs the regex once per shingle position (the
    lambda body re-evaluates every subtree it references)."""
    n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(norm, i, k))
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via sha256 groupBy: canonical (min id) + group size.

    One shuffle on the digest; at 100 TB this is the optimal plan (no
    sort, map-side partial agg, no skew)."""
    t = F.sha2(F.col(text_col), 256)
    return (
        df.select(t.alias("exact_hash"), F.col(id_col))
        .groupBy("exact_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_signatures_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """One row per doc: (id, g0..g{n-1}) with minhash_i = MIN over
    shingles of g_i(shingle), g_i = (h1 + i*h2) mod 2^32 from one md5
    per shingle (Kirsch-Mitzenmacher two-hash family).

    The wide shape is the scalable one: a single groupBy(id) with
    map-side partial agg of n int columns -- no per-seed row blowup."""
    # A small doc table arrives as one parquet split; fan docs out across
    # cores BEFORE the explode so the hash work parallelizes (cheap: the
    # shuffle moves docs, not shingles).
    par = df.sparkSession.sparkContext.defaultParallelism
    shingled = (
        df.repartition(par, id_col)
        .select(
            F.col(id_col),
            # bind the normalization ONCE per row; inlined it would be
            # re-evaluated per shingle position (measured 6x at sf0.1)
            F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("__norm"),
        )
        .select(F.col(id_col), F.explode(shingles_of(F.col("__norm"), shingle_k)).alias("sh"))
    )
    # Kirsch-Mitzenmacher: ONE md5 per shingle -> two 32-bit halves
    # (h1, h2); hash family g_i = (h1 + i*h2) mod 2^32. 16x less hashing
    # than md5-per-seed, same minhash guarantees. Materialize the digest
    # once so the two substrings can't become two md5 evaluations.
    hashed = shingled.select(id_col, F.md5(F.col("sh")).alias("d")).select(
        id_col,
        F.conv(F.substring(F.col("d"), 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(F.col("d"), 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    mask = F.lit(4294967295)  # 2^32 - 1
    return hashed.groupBy(id_col).agg(
        *[
            F.min((F.col("h1") + F.lit(seed) * F.col("h2")).bitwiseAND(mask)).alias(
                f"g{seed}"
            )
            for seed in range(num_hashes)
        ]
    )


def lsh_band_keys_wide(
    wide: DataFrame, id_col: str = "doc_id", band_size: int = 4
) -> DataFrame:
    """(id, band, band_key) straight from the wide signature -- pure
    projection + explode, NO shuffle: band_key = md5 of the band's
    minhashes in seed order."""
    seeds = [c for c in wide.columns if c.startswith("g")]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"g{s}").cast("string")
                            for s in range(b * band_size, (b + 1) * band_size)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(len(seeds) // band_size)
        ]
    )
    return wide.select(id_col, F.explode(bands).alias("p")).select(
        id_col, F.col("p.band").alias("band"), F.col("p.band_key").alias("band_key")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH
    band, skew-safe for degenerate buckets.

    Real corpora have pathological buckets (boilerplate / templated
    docs): all-pairs inside a hot bucket is O(b^2) output concentrated
    in one task. Shape here:

    1. Pin the narrow (id, band, band_key) band table once.
    2. ``groupBy(band, band_key).count`` -- map-side combined, so even a
       100M-row bucket contributes ~1 row per input task; no collect of
       raw ids at unbounded size.
    3. Buckets with 2..max_bucket_size ids: collect + ordered all-pairs
       (the recall-exact path; bounded memory by construction).
    4. Oversized buckets: *star* pairs (min id <-> every other id) --
       O(b) rows streamed through a join, no giant array, and the
       bucket stays one connected component for downstream dedup
       clustering, so no duplicate escapes the cap.
    """
    # Pin the band table: it is read 2x below (sizes + join); without a
    # pin each read would recompute the md5-per-shingle lineage. Lazy
    # localCheckpoint (RDD block pin), not persist: the r5 plan-keyed
    # SQL cache was measured 2x slower per call under the driver bench
    # (columnar cache-build cost + storage-pool eviction churn) -- see
    # similarity.brute_force_topk for the full post-mortem.
    bands = _band_table(df, text_col, id_col, num_hashes, band_size, shingle_k)
    bands = bands.localCheckpoint(eager=False)
    return band_pair_candidates(bands, id_col=id_col, max_bucket_size=max_bucket_size)


def _band_table(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, band_size: int, shingle_k: int
) -> DataFrame:
    """(id, band, band_key) of each doc: its MinHash signature's band keys."""
    return lsh_band_keys_wide(
        minhash_signatures_wide(df, text_col, id_col, num_hashes, shingle_k), id_col, band_size
    )


def band_pair_candidates(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int = 256,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from a band table
    (id, band, band_key) -- the hot-bucket-star-capped pair generator
    behind ``minhash_lsh_candidates`` (steps 2-4 of its shape), shared
    with the streaming near-dup ledger's within-batch collapse
    (``streaming.jobs.neardup_ingest_apply``) so a boilerplate-heavy
    micro-batch cannot go quadratic either (r10 VERDICT #1).

    Buckets of 2..max_bucket_size ids emit exact all-pairs; oversized
    buckets emit star pairs (min id <-> every other id), O(b) rows,
    with transitivity recovered downstream by connected components.
    ``bands`` is read twice (sizes + join): PIN it before calling."""
    sizes = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("n"), F.min(id_col).alias("rep")
    )
    tagged = bands.join(sizes.filter(F.col("n") > 1), ["band", "band_key"])
    # Small buckets: exact all-pairs via bucket-local generation (not a
    # self-join, which would shuffle twice and recompute lineage).
    small = (
        tagged.filter(F.col("n") <= max_bucket_size)
        .groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda a: F.filter(
                F.transform("ids", lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))),
                lambda p: p["id_a"] < p["id_b"],
            ),
        )
    )
    small_pairs = small.select(F.explode(pairs).alias("p")).select(
        F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
    )
    # Oversized buckets: star pairs against the bucket representative.
    # rep = min(id), so id_a < id_b holds without a sort.
    big_pairs = (
        tagged.filter(F.col("n") > max_bucket_size)
        .filter(F.col(id_col) != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return small_pairs.union(big_pairs).distinct()


def lsh_hot_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 5,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Monitoring companion to ``minhash_lsh_candidates``: one row per
    OVER-CAP bucket with its member count, the pair count an uncapped
    all-pairs join would have emitted, and the star-fallback count the
    capped pipeline actually emits. Run it alongside the candidate job
    (same band-table plan) and alert on ``n``/``pairs_suppressed`` --
    the skew observability a 100 TB dedup run needs before a hot
    bucket becomes a straggler task.

    Output: (band, band_key, n, pairs_exact, pairs_emitted,
    pairs_suppressed); empty when no bucket exceeds the cap."""
    bands = _band_table(df, text_col, id_col, num_hashes, band_size, shingle_k)
    return _over_cap_buckets(bands, max_bucket_size)


def _over_cap_buckets(bands: DataFrame, max_bucket_size: int) -> DataFrame:
    """``lsh_hot_bucket_stats``' rows over a band table (id, band,
    band_key): each bucket of more than ``max_bucket_size`` ids, with
    its all-pairs count, the star fallback's n-1 and the difference."""
    n = F.col("n")
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(n > max_bucket_size)
        .select(
            "band",
            "band_key",
            n,
            (n * (n - 1) / 2).cast("long").alias("pairs_exact"),
            (n - 1).cast("long").alias("pairs_emitted"),
            ((n * (n - 1) / 2) - (n - 1)).cast("long").alias("pairs_suppressed"),
        )
    )


def _union_find(edges) -> tuple[list, list]:
    """(ids, labels) over an iterable of (a, b) edges: each endpoint
    with the min id of its connected component. Union-by-min-root makes
    each root its set's min id; path compression keeps the pass
    near-linear (Tarjan, JACM 1975)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    ids = list(parent)
    return ids, [find(x) for x in ids]


def _star_labels(pairs: DataFrame, id_col: str) -> DataFrame:
    """(id_col, label) for every endpoint of ``pairs``: alternating
    large-star and small-star rounds (Kiveris et al., SoCC 2014) over
    the undirected edges, each stored once as (hi, lo) with hi > lo,
    until a round changes no edge; every component is then a star
    around its min id. Raises RuntimeError after ``CC_MAX_ROUNDS``
    rounds without converging.

    A round is two window mins, two explodes and a distinct, and no step
    grows the size estimate that the round's checkpoint carries into the
    next one: a union would double it every round, a self-join would
    square it."""
    hi, lo, m = F.col("hi"), F.col("lo"), F.col("m")

    def fan(df, *rows):
        """Each row of ``df`` as one (hi, lo) row per (hi, lo) in ``rows``.
        The array gets its own projection: an explode passes its input's
        size estimate through, which would keep a window's extra column."""
        links = [F.struct(a.alias("hi"), b.alias("lo")) for a, b in rows]
        fans = df.select(F.array(*links).alias("e"))
        return fans.select(F.explode("e").alias("e")).select("e.*")

    undirected = (
        pairs.select(F.greatest("id_a", "id_b").alias("hi"), F.least("id_a", "id_b").alias("lo"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = undirected.filter(hi != lo)
    for _ in range(CC_MAX_ROUNDS):
        # large star over the (node, neighbor) adjacency: each bigger
        # neighbor of a node links to the min of its closed neighborhood
        large = (
            fan(edges, (hi, lo), (lo, hi))
            .withColumn("m", F.least(hi, F.min(lo).over(Window.partitionBy("hi"))))
            .filter(lo > hi)
            .select(lo.alias("hi"), m.alias("lo"))
        )
        # small star: a node and its smaller neighbors link to their min
        small = large.withColumn("m", F.min(lo).over(Window.partitionBy("hi")))
        stepped = (
            fan(small, (hi, m), (lo, m))
            .filter(hi != lo)
            .distinct()
            .localCheckpoint(eager=False)
        )
        # both sets are distinct: an edge counted once is in only one
        changed = edges.union(stepped).groupBy("hi", "lo").count().filter("count = 1").count()
        edges = stepped
        if changed == 0:
            # (lo, lo) labels each star's center; self-loop-only ids
            # label themselves
            return (
                fan(edges, (hi, lo), (lo, lo))
                .union(undirected.filter(hi == lo))
                .groupBy(hi.alias(id_col))
                .agg(F.min("lo").alias("label"))
            )
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ROUNDS} rounds "
        f"({changed} edges still changed in the last round)"
    )


# Round cap of the Spark regime; hitting it means a pathological graph.
# For scale: shuffled-id chains of 56, 1,000 and 4,000 nodes converge in
# 6, 10 and 11 rounds, the last round being the one that changes nothing.
CC_MAX_ROUNDS = 25
# Most ``pairs`` rows clustered on the driver (see connected_components).
CC_DRIVER_EDGES = 1_000_000


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, cluster_id) from candidate near-dup pairs: cluster_id = the
    minimum id in each connected component -- the canonical-document
    assignment that turns pairwise dedup output into keep/drop sets.

    Two regimes, same output rows. One job reads at most
    ``CC_DRIVER_EDGES + 1`` rows of ``pairs`` to the driver.

    - **Driver** (they fit): one ``_union_find`` pass over them, handed
      back as a single-chunk Arrow local relation. No further job: with
      ``nodes=None`` the result collects without one.
    - **Spark** (more rows than ``CC_DRIVER_EDGES``): nothing more is
      collected. Alternating large-star/small-star rounds of plain
      DataFrame operations (``_star_labels``, Kiveris et al., SoCC 2014)
      run until a round changes no edge, each round one change-count
      action; no Python runs on the workers. Raises RuntimeError when
      ``CC_MAX_ROUNDS`` rounds end without converging: unconverged
      labels would silently split clusters.

    The bound, 10^6 rows, is the largest size measured. On 4 cores over
    seeded graphs of 2-8-node chains, both regimes gave the same rows
    and the driver one won at every size tried: 0.43 vs 4.4 s at
    3*10^4 edges, 9.7 vs 16.8 s at 10^6, where driver peak RSS rose
    112 MB.

    ``nodes`` (default: ids appearing in pairs) adds singleton docs, via
    one anti-join against the labelled endpoints, so every document gets
    a cluster row. ``nodes`` must be a SUPERSET of the ids appearing in
    ``pairs``: both regimes label every edge endpoint regardless of
    ``nodes``, so an endpoint missing from ``nodes`` still gets an
    output row; to confine the graph, pre-filter ``pairs``."""
    import pyarrow as pa

    fetched = pairs.select("id_a", "id_b").limit(CC_DRIVER_EDGES + 1).toArrow()
    if fetched.num_rows <= CC_DRIVER_EDGES:
        ids, roots = _union_find(
            zip(fetched["id_a"].to_pylist(), fetched["id_b"].to_pylist())
        )
        id_t = fetched.schema.field("id_a").type
        # one chunk: Spark drops an Arrow table's rows after an empty chunk
        labels = pairs.sparkSession.createDataFrame(
            pa.table({id_col: pa.array(ids, id_t), "label": pa.array(roots, id_t)})
        )
    else:
        labels = _star_labels(pairs, id_col)
    if nodes is None:
        out = labels
    else:
        singles = (
            nodes.select(F.col(id_col))
            .distinct()
            .join(labels.select(id_col), id_col, "left_anti")
            .select(F.col(id_col), F.col(id_col).alias("label"))
        )
        # pin: the labels are already local or checkpoint-backed, but
        # the singleton leg re-derives ``nodes`` (often a full upstream
        # lineage) -- without the pin every consumer would recompute it
        out = labels.unionByName(singles).localCheckpoint(eager=False)
    return out.select(F.col(id_col), F.col("label").alias("cluster_id"))


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Per-doc SimHash: sum +1/-1 votes of each token-hash bit, then
    assemble the sign bits into one integer fingerprint.

    Single-aggregation shape: one groupBy(id) computing ``bits``
    conditional sums over the token rows (map-side combined), then a
    pure projection assembles the fingerprint. No per-bit row blowup
    and no second shuffle (the earlier draft cross-joined tokens with
    range(bits): 32x the rows and two groupBys). Docs are fanned out by
    id before the explode, so the groupBy reuses that partitioning."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(par, id_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.trim(normalized_text(F.col(text_col))), " "))
        ).alias("tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    hashed = toks.select(id_col, h.alias("h"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    fingerprint = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") >= 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    blocking_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs within a blocking key: hamming(simhash) <= k via
    bit_count(xor). Blocking bounds the pair space (at scale the block
    is an LSH bucket or shard key, never the whole corpus)."""
    s = simhash(df, text_col, id_col)
    # Pin: both sides of the blocking self-join read one computed
    # (id, blk, simhash) pass instead of re-hashing every token per side.
    base = (
        df.select(F.col(id_col), F.col(blocking_col).alias("blk"))
        .join(s, id_col)
        .localCheckpoint(eager=False)
    )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("blk").alias("blk_a"), F.col("simhash").alias("sh_a")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("blk").alias("blk_b"), F.col("simhash").alias("sh_b")
    )
    return (
        a.join(b, F.col("blk_a") == F.col("blk_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_chunk_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int,
    bits: int,
    n_chunks: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Generic pigeonhole near-pair join over ANY integer fingerprint
    frame (the Manku et al., WWW'07 trick simhash_chunk_pairs
    established; factored out in r12 so the perceptual-hash image
    family reuses it): split the ``bits``-bit hash into ``n_chunks``
    equal bit-chunks; a pair within hamming k < n_chunks must agree
    exactly on >= n_chunks - k chunks, so agreeing on at least one
    chunk is a COMPLETE candidate filter. The join shuffles on
    (chunk position, chunk value) -- never the O(n^2) pair space.

    ``max_bucket_size`` (opt-in) row_number-caps hot (pos, val)
    buckets -- constant media (a corpus of identical blank thumbnails
    all hashing to 0) makes one bucket quadratic, the landing-zone
    poison. The cap trades bounded recall on oversize buckets for a
    hard pair bound, the same trade band_pair_candidates documents;
    completeness holds exactly whenever every bucket fits the cap."""
    assert max_hamming < n_chunks, "pigeonhole needs k < n_chunks"
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    s = hashes.select(F.col(id_col), F.col(hash_col).alias("__h"))
    chunks = s.select(
        F.col(id_col),
        F.col("__h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("pos"),
                        F.expr(f"shiftright(__h, {i * chunk_bits})")
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "__h", F.col("c.pos").alias("pos"), F.col("c.val").alias("val"))
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("pos", "val").orderBy(id_col)
        chunks = (
            chunks.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("__h").alias("h_a"), "pos", "val"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("__h").alias("h_b"), "pos", "val"
    )
    return (
        a.join(b, ["pos", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_chunk_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    n_chunks: int = 4,
) -> DataFrame:
    """Blocking-free near-dup pairs: hamming(simhash) <= k via the
    pigeonhole chunk trick (Manku et al., WWW'07) -- the shared
    ``hamming_chunk_pairs`` join over the text simhash. The candidate
    join shuffles on (chunk position, chunk value) -- never the
    O(n^2) pair space and no semantic blocking key needed (vs.
    simhash_near_pairs)."""
    # Pin the fingerprints: one (id, simhash) row per doc -- tiny vs the
    # corpus -- so both sides of the chunk join read the one computed
    # pass instead of re-hashing every token per side.
    s = simhash(df, text_col, id_col).localCheckpoint(eager=False)
    return hamming_chunk_pairs(
        s, "simhash", id_col,
        max_hamming=max_hamming, bits=bits, n_chunks=n_chunks,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    blocking_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard over distinct k-shingles for pairs sharing a
    blocking key: |A intersect B| / (|A| + |B| - |A intersect B|).

    Ratio computed from exact integer set sizes -> deterministic
    doubles. Verifier stage: run on candidates, not the full corpus.
    """
    # Pin: the shingle arrays feed both sides of the blocking self-join.
    # Normalization bound to a column first (see shingles_of).
    sh = (
        df.select(
            F.col(id_col),
            F.col(blocking_col).alias("blk"),
            F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("__norm"),
        )
        .select(
            F.col(id_col),
            F.col("blk"),
            shingles_of(F.col("__norm"), shingle_k).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("blk").alias("blk_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("blk").alias("blk_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        a.join(b, F.col("blk_a") == F.col("blk_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    blocking_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric near-dup: containment |A intersect B| / |A| catches a
    document EMBEDDED in a larger one, where Jaccard (normalized by the
    union) stays low. Emits both directions per blocked pair
    (containment_ab = how much of a is inside b, and _ba), keeping
    pairs where either direction clears ``threshold`` -- the
    subset-duplicate detector (quote farms, concatenated corpora).
    Same blocked-verifier contract as ngram_jaccard_pairs: run on
    candidates/blocks, never globally."""
    sh = (
        df.select(
            F.col(id_col),
            F.col(blocking_col).alias("blk"),
            F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("__norm"),
        )
        .select(
            F.col(id_col),
            F.col("blk"),
            shingles_of(F.col("__norm"), shingle_k).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("blk").alias("blk_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("blk").alias("blk_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    c_ab = inter.cast("double") / F.size(F.col("sh_a")).cast("double")
    c_ba = inter.cast("double") / F.size(F.col("sh_b")).cast("double")
    return (
        a.join(b, F.col("blk_a") == F.col("blk_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            c_ab.alias("containment_ab"),
            c_ba.alias("containment_ba"),
        )
        .filter(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: per near-dup cluster, the
    member with the highest ``score_col`` (ties -> lowest id) plus the
    member count -- the keep-rule real pipelines use instead of
    min-id-wins (keep the longest / highest-quality copy, drop the
    rest). ``clusters`` is connected_components' (id, cluster_id)
    output.

    Scale shape: one broadcast-or-shuffle join on the id (AQE decides;
    both sides are id-partitioned row tables) and one window keyed by
    cluster_id. Cluster sizes are corpus-dependent but the window is a
    streaming rank over each cluster's rows, never a materialized
    cross product; a pathological mega-cluster concentrates on one
    key, the same regime as any keyed operator under skew (AQE splits
    it).

    Output: (cluster_id, keep_id, keep_score, n_members)."""
    scored = clusters.join(
        docs.select(F.col(id_col), F.col(score_col)), id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("keep_id"),
            F.col(score_col).alias("keep_score"),
            "n_members",
        )
    )


def hamming_bucket_stats(
    hashes: DataFrame,
    hash_col: str,
    id_col: str,
    bits: int = 64,
    n_chunks: int = 8,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Monitoring companion to ``hamming_chunk_pairs`` -- the
    pigeonhole twin of ``lsh_hot_bucket_stats``: one row per OVER-CAP
    (chunk pos, chunk value) bucket with its member count, the pair
    count an uncapped join would emit, and the pairs the row_number
    cap suppresses (members past the cap never pair AT ALL in that
    bucket, the documented bounded-recall trade). Run it beside the
    pair job on the SAME hash frame; corpus-wide cap saturation here
    is the flat/blank-media pre-filter signal (SCALE.md r12), not a
    reason to raise the cap.

    Output: (pos, val, n, pairs_exact, pairs_suppressed); empty when
    no bucket exceeds the cap."""
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    s = hashes.select(F.col(id_col), F.col(hash_col).alias("__h"))
    chunks = s.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("pos"),
                        F.expr(f"shiftright(__h, {i * chunk_bits})")
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c")
    ).select(F.col("c.pos").alias("pos"), F.col("c.val").alias("val"))
    n = F.col("n")
    cap = F.lit(max_bucket_size)
    return (
        chunks.groupBy("pos", "val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(n > max_bucket_size)
        .select(
            "pos",
            "val",
            n,
            (n * (n - 1) / 2).cast("long").alias("pairs_exact"),
            ((n * (n - 1) / 2) - (cap * (cap - 1) / 2))
            .cast("long")
            .alias("pairs_suppressed"),
        )
    )
