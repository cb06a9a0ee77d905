"""Generic warehouse mutation verbs: Type-1 upsert and targeted delete.

``build/scd2_dim.py`` implements the reference's *versioned* merge
(close/resurrect/insert, queries.rs:221-321). This module adds the two
un-versioned verbs every warehouse user also needs, expressed the same
Spark-first way (no MERGE INTO available over plain parquet, so both
compile to declarative DataFrame plans + the Warehouse's copy-on-write
commit):

- ``merge_upsert``  -- MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED
  INSERT, at Type-1 grain (overwrite in place, no history). The write
  is partition-pruned: only partitions with batch rows are rewritten.
- ``delete_keys``   -- targeted row deletion (the GDPR /
  right-to-be-forgotten shape): given a small key set, rewrite ONLY
  the files whose parquet footer key range can contain a requested
  key; every other file is carried into the new generation by
  hardlink, byte-identical.

Scale posture (100 TB): an upsert batch shuffles once on the join key
within touched partitions only; the delete's footer scan is metadata-
sized (one footer read per live file) and the rewrite is file-granular,
so cost tracks the number of files actually containing victims -- on a
z-ordered / key-clustered table (Warehouse.compact(cluster_by=...))
deletion keys cluster into few files. Scattered keys on an unclustered
table degrade to rewriting most files; that is intrinsic to the
operation (an ACID format's DELETE does the identical file rewrite),
not to this implementation -- merge-on-read deletion vectors are the
format-level answer, see SCALE.md.
"""

from __future__ import annotations

import bisect
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..warehouse import Warehouse


def _latest_per_key(batch: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Reduce a CDC-style batch to its newest row per key (the ADVICE-r4
    lesson: two updates to one key in one batch must not both apply)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _touched_partitions_cond(pcols: list[str], touched: list[tuple]):
    """Null-safe membership predicate for the touched-partition set.

    ``isin`` / ``==`` return NULL (never true) against a NULL partition
    value, so a batch carrying rows in the null partition would fail to
    select that partition's current rows -- the dynamic overwrite would
    then replace the whole null partition with the batch rows only,
    silently deleting the unmatched current rows (r5 review finding).
    ``eqNullSafe`` also makes the predicate total (true/false, never
    NULL), so the negated form used by verify_partition_contract sees
    the null partition too."""
    cond = F.lit(False)
    for t in touched:
        m = F.lit(True)
        for c, v in zip(pcols, t):
            m = m & F.col(c).eqNullSafe(F.lit(v))
        cond = cond | m
    return cond


def merge_upsert(
    wh: Warehouse,
    table: str,
    batch: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
    verify_partition_contract: bool = False,
) -> dict:
    """Type-1 MERGE: rows whose key matches are replaced by the batch
    row, new keys are inserted, everything else is untouched. The
    target must be partitioned and the partition column(s) must be
    functionally determined by the key (the scd2_dim contract), so a
    key's old and new row land in the same partition and the write can
    be a partition-pruned dynamic overwrite.

    ``order_col``: with a CDC batch that can carry several versions of
    one key, names the column whose max wins. Without it the batch
    must be key-unique -- verified (one cheap agg), not assumed.

    The key->partition contract itself (a batch row for key k carries
    the SAME partition value as k's current row) is assumed by
    default: checking it requires scanning the UN-touched partitions,
    the exact cost partition pruning exists to avoid. Pass
    ``verify_partition_contract=True`` to pay that scan and fail fast
    if a batch key's current row lives outside the touched set (a
    violation would otherwise leave the key duplicated across two
    partitions).

    Returns {"matched": n, "inserted": n, "carried": n,
    "touched_partitions": [...]}.
    """
    pcols = wh._partitioning.get(table)
    if not pcols:
        raise ValueError(f"merge_upsert requires a partitioned table; {table} has no spec")
    if order_col is not None:
        batch = _latest_per_key(batch, key_cols, order_col)
    # Pin via persist, not eager checkpoint (r16, guide section 5): the
    # stats aggregation below is the ONE action that both computes the
    # metadata and populates the cache, so the separate checkpoint
    # materialization job disappears. Later reads of the batch (the
    # match join's build side, the union into the rewrite) hit the
    # cache; MEMORY_AND_DISK storage spills rather than drops, and
    # every consumer runs before the commit point, so a
    # self-referential batch's recompute source (the old generation)
    # is still on disk throughout. Unpersisted before return.
    # ONE metadata pass over the pinned batch: total rows, distinct
    # keys (struct-wise, so NULL key fields compare like groupBy
    # equality), and the touched-partition set (bounded: one struct
    # per partition). Replaces three separate jobs (dup-check count,
    # batch count, distinct-partitions collect) -- each job pays the
    # scheduler floor, which dominates metadata-sized merges on
    # high-latency schedulers and costs a full barrier round-trip on a
    # busy cluster. Pin + stats run BEFORE the table lock (r6 ADVICE):
    # the batch is caller-side state, so the pre-lock result stays
    # valid under the lock, and a duplicate-key batch now fails cheaply
    # without ever holding the table's exclusive lock through its own
    # materialization.
    batch = batch.persist()
    try:
        stats = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct(*key_cols)).alias("nk"),
            F.collect_set(F.struct(*pcols)).alias("parts"),
        ).collect()[0]
        n_batch = stats["n"]
        if order_col is None and stats["nk"] != n_batch:
            raise ValueError(
                "merge_upsert batch has duplicate keys; pass order_col to "
                "pick the newest version per key"
            )
        touched = [tuple(r) for r in stats["parts"]]
        with wh.lock(table):
            cur = wh.read(table).filter(_touched_partitions_cond(pcols, touched))
            if verify_partition_contract:
                outside = wh.read(table).filter(
                    ~_touched_partitions_cond(pcols, touched)
                )
                stray = (
                    outside.select(*key_cols)
                    .join(batch.select(*key_cols), on=key_cols, how="left_semi")
                    .limit(1)
                    .count()
                )
                if stray:
                    raise ValueError(
                        "merge_upsert partition contract violated: a batch key's "
                        "current row lives outside the batch's partitions -- the "
                        "partition column must be a function of the key"
                    )
            # The match-flag join is consumed exactly once, by the
            # rewrite below, and its audit counts ride THAT action as
            # an observe() metric node (r16, guide section 1.2: don't
            # schedule extra jobs for numbers the write already
            # computes). CollectMetrics sees every joined row BEFORE
            # the carried-rows filter above it (filters do not push
            # through it -- verified against the physical plan), so
            # n_cur/n_matched are identical to the old separate
            # aggregation. Replaces the eager checkpoint + count pair:
            # pin job + agg job + write job collapse to the write job.
            # No broadcast hint on the batch side: incremental batches
            # usually fit, and AQE decides on size.
            obs = Observation()
            ann = cur.join(
                batch.select(*key_cols).withColumn("__m", F.lit(1)),
                on=key_cols,
                how="left",
            ).observe(
                obs,
                F.count(F.lit(1)).alias("n_cur"),
                F.sum("__m").alias("n_matched"),
            )
            carried = ann.filter(F.col("__m").isNull()).drop("__m")
            out = carried.unionByName(batch.select(*carried.columns))
            wh.overwrite_partitions(table, out)
            counts = obs.get
            n_cur, n_matched = counts["n_cur"], counts["n_matched"] or 0
    finally:
        batch.unpersist()
    return {
        "matched": n_matched,
        "inserted": n_batch - n_matched,
        "carried": n_cur - n_matched,
        "touched_partitions": sorted(touched),
    }


def _partition_value(rel: str, pcol: str) -> str | None:
    """Parse ``pcol``'s value from a hive-layout relative path
    (``pcol=V/...``) as its RAW directory string; None when the path
    carries no such dir. String form on purpose: bucket values are
    compared via ``_bucket_key`` on both sides, so an int bucket
    function and an int-valued dir ('b=3' vs 3) meet on '3' instead of
    silently missing on type."""
    for seg in rel.split(os.sep)[:-1]:
        if seg.startswith(pcol + "="):
            return seg[len(pcol) + 1 :]
    return None


def _bucket_key(v) -> str:
    """Canonical string for a partition value, matching hive dir
    rendering for ints/strings (floats: str(float) matches Spark's
    default rendering for simple values; exotic float dirs fall back
    to the conservative no-prune path via the mismatch guard)."""
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _files_containing_keys(
    wh: Warehouse, table: str, key_col: str, keys: list, bucket_of=None
) -> tuple[list[str], list[str]]:
    """Split live files into (maybe-affected, provably-clean) using
    ``Warehouse.file_ranges`` on ``key_col`` against the sorted key
    list. Files without a footer range count as affected (never skip
    blind). One footer read per file -- metadata-sized.

    ``bucket_of``: when the table's (single) partition column is a
    function of the key (the scd2_dim bucket contract), maps a key to
    its partition value; each file is then checked only against the
    keys that can live in ITS partition -- range stats alone cannot
    express "key 17 is in bucket 1", so without this every partition's
    low-range file matches every small key. Bucket values compare via
    canonical strings (int 3 meets dir 'b=3'), and the pruning is
    FAIL-SAFE: if any victim's bucket value never matches a partition
    dir (a bucket_of/layout mismatch), pruning for those keys is
    abandoned and they are range-checked against every file -- a
    deletion must never silently skip a victim."""
    ranges = wh.file_ranges(table, key_col)
    pcols = wh._partitioning.get(table, [])
    by_bucket: dict[str, list] | None = None
    if bucket_of is not None and len(pcols) == 1:
        by_bucket = {}
        for k in keys:
            by_bucket.setdefault(_bucket_key(bucket_of(k)), []).append(k)
        seen_dirs = {
            d for rel in ranges if (d := _partition_value(rel, pcols[0])) is not None
        }
        orphans = sorted(
            {k for b, ks in by_bucket.items() if b not in seen_dirs for k in ks}
        )
        if orphans:
            # victims whose bucket matches no partition dir: either the
            # key genuinely isn't in the table, or bucket_of disagrees
            # with the layout. Range-check them against EVERY file --
            # a deletion must never silently skip a victim.
            by_bucket = {
                d: sorted(set(by_bucket.get(d, [])) | set(orphans))
                for d in seen_dirs
            }
    affected: list[str] = []
    clean: list[str] = []
    for rel, rng in ranges.items():
        cand = keys
        if by_bucket is not None:
            d = _partition_value(rel, pcols[0])
            # a data file outside any partition dir is checked against
            # every key (never prune on absent layout information)
            cand = keys if d is None else by_bucket.get(d, [])
        hit = bool(cand)
        if hit and rng is not None:
            # any candidate key inside [min, max]?
            i = bisect.bisect_left(cand, rng[0])
            hit = i < len(cand) and cand[i] <= rng[1]
        (affected if hit else clean).append(rel)
    return affected, clean


def _annotate_victims(cur: DataFrame, key_lit: DataFrame, key_col: str):
    """ONE victim-flag join over the rows under rewrite; the survivor
    frame is returned with the deletion count attached as an observe()
    metric, so the caller's rewrite action computes both in a single
    job (r16 -- was pin job + count job + write job). CollectMetrics
    sees every joined row before the survivor filter (filters do not
    push through it), so the count equals the old separate
    aggregation. Read ``obs.get["n_del"]`` only AFTER the write.
    ``key_lit`` is distinct, so the left join never fans out."""
    obs = Observation()
    ann = cur.join(
        F.broadcast(key_lit.withColumn("__victim", F.lit(1))),
        on=key_col,
        how="left",
    ).observe(obs, F.sum("__victim").alias("n_del"))
    # the join moved key_col to position 0 -- restore the table's order
    kept = ann.filter(F.col("__victim").isNull()).select(*cur.columns)
    return kept, obs


def delete_keys(
    wh: Warehouse,
    table: str,
    keys_df: DataFrame,
    key_col: str,
    max_driver_keys: int = 1_000_000,
    bucket_of=None,
) -> dict:
    """Targeted deletion of every row whose ``key_col`` appears in
    ``keys_df`` -- the GDPR erasure shape: the key set is
    request-sized (users asking to be forgotten), the table is 100 TB.

    The key set is collected to the driver (bounded by
    ``max_driver_keys`` -- erasure batches are small by nature; raise
    rather than silently collecting a huge frame) and matched against
    per-file footer stats: only files that can contain a victim are
    rewritten (anti-join against the broadcast key set); all others
    hardlink into the new generation untouched, and the swap is the
    usual single atomic pointer commit. On an unpartitioned table the
    file-granular path is unavailable and the whole table is rewritten
    (documented degradation -- partition your big tables).

    Returns {"rows_deleted": n, "files_rewritten": n, "files_carried": n}.
    """
    keys_rows = keys_df.select(F.col(key_col)).distinct().limit(max_driver_keys + 1).collect()
    if len(keys_rows) > max_driver_keys:
        raise ValueError(
            f"delete_keys got more than {max_driver_keys} keys; for bulk deletes "
            "use an anti-join rewrite (overwrite) instead of the targeted path"
        )
    keys = sorted(r[0] for r in keys_rows if r[0] is not None)
    if not keys:
        return {"rows_deleted": 0, "files_rewritten": 0, "files_carried": len(wh.data_files(table))}
    # Build the key-literal frame with the TABLE's column type, not a
    # type sniffed from the first collected value (r5 review finding:
    # isinstance guessing mistyped date/timestamp/decimal/boolean keys,
    # yielding a wrong schema or an opaque createDataFrame failure).
    try:
        key_field = next(
            f for f in wh.read(table).schema.fields if f.name == key_col
        )
    except StopIteration:
        raise ValueError(f"delete_keys: column {key_col!r} not in table {table}")
    from pyspark.sql.types import StructField, StructType

    key_lit = wh.spark.createDataFrame(
        [(k,) for k in keys], StructType([StructField(key_col, key_field.dataType)])
    )
    if table not in wh._partitioning:
        # read-modify-write inside the lock, like the partitioned path:
        # a concurrent merge committing between our read and overwrite
        # would otherwise be silently rolled back
        with wh.lock(table):
            n_files = len(wh.data_files(table))
            kept, obs = _annotate_victims(wh.read(table), key_lit, key_col)
            wh.overwrite(table, kept)
        n_del = int(obs.get["n_del"] or 0)
        return {"rows_deleted": n_del, "files_rewritten": n_files, "files_carried": 0}
    with wh.lock(table):
        affected, clean = _files_containing_keys(wh, table, key_col, keys, bucket_of)
        if not affected:
            return {"rows_deleted": 0, "files_rewritten": 0, "files_carried": len(clean)}
        kept, obs = _annotate_victims(wh.read_files(table, affected), key_lit, key_col)
        wh.replace_files(table, kept, drop_files=affected)
    return {
        "rows_deleted": int(obs.get["n_del"] or 0),
        "files_rewritten": len(affected),
        "files_carried": len(clean),
    }
