"""Data-scale SCD2 dimension merge: keyed, partition-pruned
(SURVEY S8/P6/P7/J5; reference: extension/src/model/queries.rs:221-321).

``catalog/scd2.py`` applies the reference's change/resurrect/insert
semantics at *metadata* grain, where a full-table rewrite per merge is
cheap by construction. This module applies the identical semantics to a
*data-scale* dimension (10^9+ rows), where a full rewrite is the exact
thing you cannot do. The shape that survives 100x:

- The target table is partitioned by a caller-supplied bucket column
  (hash/modulus of the business key, or a load date). Both sides of the
  merge carry it, so a key's history always lives in one partition.
- One driver-side ``distinct().collect()`` of the batch's bucket values
  (metadata-grain: <= n_buckets rows) determines the touched set; the
  target scan filters on it, so Catalyst prunes every untouched
  partition from the file listing.
- The merge joins current rows to the batch *within touched buckets
  only* and computes all actions in one pass (same single-joined-pass
  equivalence argument as catalog/scd2.py).
- The write is a dynamic partition overwrite
  (``Warehouse.overwrite_partitions``): only touched partitions are
  rewritten; untouched partition files stay byte-identical (shared
  into the new generation by hardlink). The overwrite runs against a
  copy-on-write generation committed by one atomic pointer replace,
  so a crash at any instant leaves the previous or the next table
  state fully live -- never a half-replaced partition. With an ACID
  table format available this write is a ``MERGE INTO`` (see
  SCALE.md); semantics are identical.

Action semantics (queries.rs:221-321, minus full-snapshot deletion):

1. close changed  -- key present in batch, any tracked col IS DISTINCT
                     FROM the batch value: current row gets
                     valid_to=now, current_flag='N'; the batch row is
                     inserted as the new current version.
2. resurrect      -- batch re-presents a key whose current row is
                     deleted, values not distinct and at least one
                     plainly equal (the reference's null-unsafe
                     OR-equality chain): deleted_flag flips to 'N'.
3. insert new     -- batch key with no surviving current row.
4. mark deleted   -- ONLY with ``full_snapshot=True``: a current row
                     whose key is absent from the batch is flagged
                     deleted. Correct iff the batch carries the
                     complete key population of every bucket it
                     touches (per-bucket completeness is enough --
                     keys cannot move buckets). The default (False) is
                     CDC-batch semantics: absent keys are untouched.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..warehouse import Warehouse

SCD2_META = ("valid_from", "valid_to", "current_flag", "deleted_flag")


def with_bucket(
    df: DataFrame,
    key_cols: list[str],
    n_buckets: int = 64,
    bucket_col: str = "key_bucket",
) -> DataFrame:
    """Attach the partition bucket: ``pmod(xxhash64(keys), n)``.
    Uniform regardless of key distribution (the same property sha2
    gives the hub loads), so bucket partitions stay balanced at any
    scale. Every producer for one dimension -- initial load, batch
    merges, streaming merges -- must use the same bucketing."""
    return df.withColumn(
        bucket_col, F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))
    )


def initial_load(
    wh: Warehouse,
    table: str,
    batch: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    bucket_col: str = "key_bucket",
    as_of: datetime.datetime | None = None,
) -> None:
    """Seed an empty dimension: every batch row becomes a current,
    not-deleted version. ``batch`` must already carry ``bucket_col``."""
    now = F.lit(as_of).cast("timestamp") if as_of else F.current_timestamp()
    rows = batch.select(
        *key_cols,
        *tracked_cols,
        F.col(bucket_col).cast("long").alias(bucket_col),
        now.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit("Y").alias("current_flag"),
        F.lit("N").alias("deleted_flag"),
    )
    wh.create_table(table, rows.schema, partition_by=[bucket_col])
    wh.append(table, rows)


def _plan_file_pruning(
    wh: Warehouse,
    table: str,
    branges: dict,
    key_col: str,
    bucket_col: str,
) -> tuple[list[str], int] | None:
    """File-granularity pruning plan: intersect each touched-partition
    file's footer key range (``Warehouse.file_ranges``) with the
    batch's per-bucket key range (``branges``, already collected
    alongside the touched-bucket set -- driver-side state bounded by
    n_buckets + file count of touched partitions). Returns
    (files_to_read_and_rewrite, n_files_seen), or None when the key
    isn't numeric-orderable (string footer stats can be truncated
    bounds -- never prune on them)."""
    for lo, hi in branges.values():
        if not isinstance(lo, (int, float)) or not isinstance(hi, (int, float)):
            return None
    bucket_dirs = {f"{bucket_col}={int(b)}": b for b in branges}
    franges = wh.file_ranges(table, key_col, dirs=list(bucket_dirs))
    kept = []
    for rel, rng in franges.items():
        lo, hi = branges[bucket_dirs[os.path.dirname(rel)]]
        if rng is None or (rng[0] <= hi and rng[1] >= lo):
            kept.append(rel)  # no stats, or key range intersects the batch
    return kept, len(franges)


def merge_batch(
    wh: Warehouse,
    table: str,
    batch: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    bucket_col: str = "key_bucket",
    as_of: datetime.datetime | None = None,
    full_snapshot: bool = False,
    file_prune: bool = True,
) -> dict[str, int]:
    """Partition-pruned SCD2 merge of ``batch`` into ``table``.

    With ``file_prune`` (default), the merge goes one level finer than
    partition pruning: per-file key min/max from parquet footers
    restricts the read AND the rewrite to files whose key range
    intersects the batch (first key column; requires numeric keys and
    CDC batches -- ``full_snapshot`` needs every current row of a
    touched bucket, so it always reads whole partitions). Files of a
    touched bucket that hold no batch key stay byte-identical in the
    committed generation -- the write-amplification knob when buckets
    are large. Engages only when the footer stats actually exclude
    something; falls back to the partition-granular dynamic overwrite
    otherwise.

    Returns per-action row counts plus touched-bucket and file-prune
    counters. The whole read-compute-write cycle holds the table lock
    (Postgres-transaction parity, dv_loader.rs:59-64)."""
    now = F.lit(as_of).cast("timestamp") if as_of else F.current_timestamp()
    with wh.lock(table):
        # One metadata-grain job yields both the touched-bucket set and
        # the per-bucket key range the file-pruning plan needs.
        bstats = (
            batch.groupBy(F.col(bucket_col).cast("long").alias("b"))
            .agg(F.min(key_cols[0]).alias("lo"), F.max(key_cols[0]).alias("hi"))
            .collect()
        )
        touched = [r["b"] for r in bstats]
        branges = {r["b"]: (r["lo"], r["hi"]) for r in bstats}
        prune_plan = None
        if file_prune and not full_snapshot and touched:
            plan = _plan_file_pruning(wh, table, branges, key_cols[0], bucket_col)
            # engage only when pruning excludes at least one file;
            # otherwise the partition-granular path writes the same
            # bytes with less bookkeeping
            if plan is not None and len(plan[0]) < plan[1]:
                prune_plan = plan
        if prune_plan is None:
            cur = wh.read(table).filter(F.col(bucket_col).isin(touched))
        else:
            cur = (
                wh.read_files(table, prune_plan[0])
                if prune_plan[0]
                else wh.read(table).where(F.lit(False))
            )
        cur_y = cur.filter(F.col("current_flag") == "Y")
        cur_n = cur.filter(F.col("current_flag") != "Y")

        b = batch.select(
            *[F.col(c).alias(f"b_{c}") for c in (*key_cols, *tracked_cols)],
            F.col(bucket_col).cast("long").alias(f"b_{bucket_col}"),
            F.lit(1).alias("b_match"),
        )
        j = cur_y.join(
            b, on=[F.col(k) == F.col(f"b_{k}") for k in key_cols], how="left"
        )

        matched = F.col("b_match").isNotNull()
        changed_pred = F.lit(False)
        equal_pred = F.lit(False)
        for c in tracked_cols:
            changed_pred = changed_pred | ~F.col(c).eqNullSafe(F.col(f"b_{c}"))
            equal_pred = equal_pred | (F.col(c) == F.col(f"b_{c}"))
        changed = matched & changed_pred
        resurrect = matched & ~changed & (F.col("deleted_flag") == "Y") & equal_pred

        deleted_expr = (
            F.when(~matched, F.lit("Y")) if full_snapshot else F.when(F.lit(False), F.lit("Y"))
        )
        updated_y = j.select(
            *[F.col(c) for c in cur.columns if c not in ("deleted_flag", "current_flag", "valid_to")],
            deleted_expr.when(resurrect, F.lit("N"))
            .otherwise(F.col("deleted_flag"))
            .alias("deleted_flag"),
            F.when(changed, F.lit("N")).otherwise(F.col("current_flag")).alias("current_flag"),
            F.when(changed, now).otherwise(F.col("valid_to")).alias("valid_to"),
            # closures *by this merge* -- distinguishes rows closed now
            # from pre-existing history carried through via cur_n
            F.when(changed, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("_closed_now"),
        ).select(*cur.columns, "_closed_now")

        # insert: batch keys whose current row was closed or never existed
        surviving_keys = j.filter(~changed).select(*key_cols)
        inserts = (
            batch.join(surviving_keys, on=key_cols, how="left_anti")
            .select(
                *key_cols,
                *tracked_cols,
                F.col(bucket_col).cast("long").alias(bucket_col),
                now.alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
                F.lit("Y").alias("current_flag"),
                F.lit("N").alias("deleted_flag"),
            )
            .select(*cur.columns)
        )

        zero = F.lit(0).cast("long")
        final_touched = (
            cur_n.withColumn("_closed_now", zero)
            .unionByName(updated_y)
            .unionByName(inserts.withColumn("_closed_now", zero))
        )
        # The merged frame is consumed exactly once, by the rewrite:
        # its audit counts ride that action as observe() metrics (r16,
        # guide section 1.2) instead of paying a pin job + a count job
        # first. The write targets a FRESH generation dir (copy-on-
        # write), so reading the partitions being replaced needs no
        # pin for correctness, and CollectMetrics sits above the whole
        # merge (nothing filters between it and the write), so the
        # counts equal the old separate aggregation.
        obs = Observation()
        final_touched = final_touched.observe(
            obs,
            F.sum("_closed_now").alias("closed_total"),
            F.count(F.lit(1)).alias("rows_written"),
        )
        if prune_plan is None:
            wh.overwrite_partitions(table, final_touched.drop("_closed_now"))
            files_rewritten = files_preserved = -1  # partition-granular
        else:
            wh.replace_files(table, final_touched.drop("_closed_now"), prune_plan[0])
            files_rewritten = len(prune_plan[0])
            files_preserved = prune_plan[1] - files_rewritten
        counts_row = obs.get
        return {
            "touched_buckets": len(touched),
            "rows_written": counts_row["rows_written"] or 0,
            "closed_total": counts_row["closed_total"] or 0,
            "files_rewritten": files_rewritten,
            "files_preserved_in_touched": files_preserved,
        }
