"""Hub / satellite incremental loaders (SURVEY.md section 3.1 step 8).

Re-expresses the generated INSERT...SELECT DML of the reference
(extension/src/controller/dv_loader.rs:68-203 hub, :205-362 sat) as
DataFrame transforms:

- ghost records: two system rows (-1/-2) inserted once when the hub is
  empty (dv_loader.rs:110-135) -> literal union.
- hub load: hash BK parts -> anti-join existing hub keys -> append
  (dv_loader.rs:160-199).
- sat load: hash key + hash-diff over descriptors -> anti-join on
  (hk, hd) -> append (dv_loader.rs:325-357).

Scale notes (100 TB posture):

- The anti-join is the one shuffle in this pipeline. Both sides hash on
  the same key (the 64-hex hash), which is uniformly distributed by
  construction -- no skew, and AQE picks broadcast when the target side
  is still small. With date-partitioned hubs/sats, the target scan
  prunes to nothing on first load.
- Everything stays in whole-stage codegen: sha2/concat_ws are JVM
  built-ins; there is no Python in the load path.
- Each load leg is ONE write action, like the reference's one
  INSERT...SELECT: the appended-row count is observed on the write
  (``Warehouse.append``), so nothing is persisted or counted first, and
  the ghost check reads parquet footers instead of running a job.
- Idempotency is structural: re-running a load anti-joins everything
  away and appends 0 rows -- leaving no file or commit behind --
  matching the reference's re-run semantics.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import pg_text_expr
from ..model.dv_schema import BusinessKey
from ..warehouse import Warehouse

GHOST_LOAD_TS = datetime.datetime(1, 1, 1, 0, 0, 0)
GHOST_LOAD_TS_STR = "0001-01-01 00:00:00"
GHOST_RECORD_SOURCE = "SYSTEM"


def _ghost_ts_col() -> Column:
    # '0001-01-01'::TIMESTAMP (dv_loader.rs:121,128). Parsed JVM-side from
    # a string: a Python datetime literal would shift +2 days crossing the
    # py4j boundary (hybrid->proleptic Gregorian calendar rebase).
    return F.to_timestamp(F.lit(GHOST_LOAD_TS_STR))


def _load_ts_col(load_ts: datetime.datetime | None) -> Column:
    # CURRENT_TIMESTAMP AT TIME ZONE 'UTC' (dv_loader.rs:173); callers
    # pass a fixed ts for deterministic/oracle runs.
    return F.lit(load_ts).cast("timestamp") if load_ts else F.current_timestamp()


def ghost_records_df(source: DataFrame, business_key: BusinessKey) -> DataFrame:
    """The -1/-2 system rows (dv_loader.rs:110-135): hk = sha256('-1'|'-2'),
    load_ts = 0001-01-01, record_source = 'SYSTEM', every bk part = the
    sentinel value. Expressed as a union of two literal rows (O5)."""
    spark = source.sparkSession
    hk = f"hub_{business_key.name}_hk"
    parts = [f"{p.alias}_bk" for p in business_key.business_key_part_links]
    rows = []
    for sentinel in ("-1", "-2"):
        rows.append(tuple([sentinel] + [sentinel] * len(parts)))
    df = spark.createDataFrame(rows, ["sentinel"] + parts)
    return df.select(
        F.sha2(F.col("sentinel"), 256).alias(hk),
        _ghost_ts_col().alias("load_ts"),
        F.lit(GHOST_RECORD_SOURCE).alias("record_source"),
        *[F.col(p) for p in parts],
    )


def hub_stage_df(
    source: DataFrame,
    business_key: BusinessKey,
    load_ts: datetime.datetime | None = None,
    distinct_keys: bool = True,
) -> DataFrame:
    """Staged hub rows from a source DataFrame (dv_loader.rs:160-176).

    hk = sha256(concat_ws(',', part::text...)); record_source = source
    schema name (dv_loader.rs:169-175). The reference relies on source
    PK uniqueness instead of de-duplicating; we drop duplicate keys
    explicitly (``distinct_keys``) so a non-unique source can't corrupt
    the hub -- semantics identical on unique sources.
    """
    hk_name = f"hub_{business_key.name}_hk"
    schema_name, _ = business_key.source_table()
    src_types = dict(source.dtypes)
    part_cols = []
    part_exprs = []
    for p in business_key.business_key_part_links:
        col_name = p.source_columns[0].column_name
        rendered = pg_text_expr(F.col(col_name), src_types.get(col_name, "string"))
        part_cols.append(rendered.alias(f"{p.alias}_bk"))
        part_exprs.append(rendered)
    if not distinct_keys:
        return source.select(
            F.sha2(F.concat_ws(",", *part_exprs), 256).alias(hk_name),
            _load_ts_col(load_ts).alias("load_ts"),
            F.lit(schema_name).alias("record_source"),
            *part_cols,
        )
    # Dedup on the PRE-hash joined key string and hash afterwards: the
    # hk is sha256(joined), so dropDuplicates(joined) keeps exactly the
    # rows dropDuplicates(hk) kept while the dedup shuffle carries the
    # short rendered key instead of a 64-char digest per row (see
    # link.link_stage_df for the full rationale; joined string, not raw
    # parts -- concat_ws skips NULLs).
    pre = source.select(F.concat_ws(",", *part_exprs).alias("__j"), *part_cols)
    return pre.dropDuplicates(["__j"]).select(
        F.sha2(F.col("__j"), 256).alias(hk_name),
        _load_ts_col(load_ts).alias("load_ts"),
        F.lit(schema_name).alias("record_source"),
        *[F.col(f"{p.alias}_bk") for p in business_key.business_key_part_links],
    )


def satellite_stage_df(
    source: DataFrame,
    business_key: BusinessKey,
    satellite_key: str,
    load_ts: datetime.datetime | None = None,
) -> DataFrame:
    """Staged satellite rows (dv_loader.rs:325-357): hub hash key +
    hash-diff over this satellite's descriptor columns + the descriptor
    columns themselves in source types."""
    hk_name = f"hub_{business_key.name}_hk"
    hd_name = f"sat_{satellite_key}_hd"
    descriptors = business_key.satellites()[satellite_key]
    schema_name, _ = business_key.source_table()
    src_types = dict(source.dtypes)

    key_exprs = [
        pg_text_expr(
            F.col(p.source_columns[0].column_name),
            src_types.get(p.source_columns[0].column_name, "string"),
        )
        for p in business_key.business_key_part_links
    ]
    desc_source_cols = [
        d.descriptor_link.source_column.column_name
        for d in descriptors
        if d.descriptor_link.source_column
    ]
    desc_exprs = [
        pg_text_expr(F.col(c), src_types.get(c, "string")) for c in desc_source_cols
    ]
    desc_out = [
        F.col(d.descriptor_link.source_column.column_name).alias(d.descriptor_link.alias)
        for d in descriptors
        if d.descriptor_link.source_column
    ]
    # within-batch dedup on (hk, hd): the anti-join only removes rows
    # already in the target, so without this a non-unique source would
    # append identical versions twice in one load (same hardening as
    # hub_stage_df's distinct_keys). Dedup runs on the PRE-hash joined
    # strings and the digests are computed after the shuffle (see
    # hub_stage_df / link_stage_df for the shuffle-width rationale).
    desc_aliases = [
        d.descriptor_link.alias for d in descriptors if d.descriptor_link.source_column
    ]
    pre = source.select(
        F.concat_ws(",", *key_exprs).alias("__jk"),
        F.concat_ws(",", *desc_exprs).alias("__jd"),
        *desc_out,
    ).dropDuplicates(["__jk", "__jd"])
    return pre.select(
        F.sha2(F.col("__jk"), 256).alias(hk_name),
        _load_ts_col(load_ts).alias("load_ts"),
        F.lit(schema_name).alias("record_source"),
        F.sha2(F.col("__jd"), 256).alias(hd_name),
        *[F.col(a) for a in desc_aliases],
    )


def _with_partition_cols(wh: Warehouse, table: str, df: DataFrame) -> DataFrame:
    """Add the load_date partition column when the target table is
    date-partitioned (100 TB layout, SCALE.md)."""
    if "load_date" in [c for c in wh._partitioning.get(table, [])]:
        df = df.withColumn("load_date", F.to_date("load_ts"))
    return df


def load_hub(
    wh: Warehouse,
    source: DataFrame,
    business_key: BusinessKey,
    dw_schema: str = "dw",
    load_ts: datetime.datetime | None = None,
    writer=None,
) -> int:
    """Ghost-init + anti-join insert of new hub keys. Returns rows
    appended, as the sink observes them on the write. ``writer``
    overrides the append sink (a transaction's ``txn.append`` for
    atomic whole-load commits); anti-joins always read the LIVE table
    -- correct inside a transaction because hub appends are key-novel
    by construction."""
    table = f"{dw_schema}.hub_{business_key.name}"
    sink = writer or wh.append
    hk = f"hub_{business_key.name}_hk"
    appended = 0
    # Ghost init only when the hub is empty (dv_loader.rs:111-118 A4).
    if wh.row_count(table) == 0:
        ghosts = _with_partition_cols(wh, table, ghost_records_df(source, business_key))
        appended += sink(table, ghosts)
    staged = _with_partition_cols(
        wh, table, hub_stage_df(source, business_key, load_ts=load_ts)
    )
    existing = wh.read(table)
    new_rows = staged.join(existing.select(hk), on=hk, how="left_anti")
    return appended + sink(table, new_rows.select(*existing.columns))


def load_satellite(
    wh: Warehouse,
    source: DataFrame,
    business_key: BusinessKey,
    satellite_key: str,
    dw_schema: str = "dw",
    load_ts: datetime.datetime | None = None,
    writer=None,
) -> int:
    """Anti-join (hk, hd) insert of new/changed satellite rows
    (dv_loader.rs:339-346). Returns rows appended. ``writer`` as in
    ``load_hub``."""
    table = f"{dw_schema}.sat_{satellite_key}"
    sink = writer or wh.append
    hk = f"hub_{business_key.name}_hk"
    hd = f"sat_{satellite_key}_hd"
    staged = _with_partition_cols(
        wh, table, satellite_stage_df(source, business_key, satellite_key, load_ts=load_ts)
    )
    existing = wh.read(table)
    new_rows = staged.join(existing.select(hk, hd), on=[hk, hd], how="left_anti")
    return sink(table, new_rows.select(*existing.columns))


def load_dv_atomic(
    wh: Warehouse,
    source: DataFrame,
    business_key: BusinessKey,
    dw_schema: str = "dw",
    load_ts: datetime.datetime | None = None,
) -> dict[str, int]:
    """The reference's one-transaction load script over the Warehouse
    (controller/dv_loader.rs:59-64 runs hub+satellite inserts in ONE
    Postgres transaction): the hub and every satellite land in one
    multi-table commit. Per-table idempotency (anti-join) already makes
    a crashed load re-runnable; the transaction additionally removes
    the WINDOW where the hub shows keys whose satellite rows are not
    yet visible -- readers see the batch entirely or not at all (at
    pointer-swap granularity; see SCALE.md on cross-table read
    isolation)."""
    tables = [f"{dw_schema}.hub_{business_key.name}"] + [
        f"{dw_schema}.sat_{key}" for key in business_key.satellites()
    ]
    counts: dict[str, int] = {}
    with wh.transaction(tables) as txn:
        counts[f"hub_{business_key.name}"] = load_hub(
            wh, source, business_key, dw_schema, load_ts, writer=txn.append
        )
        for key in business_key.satellites():
            counts[f"sat_{key}"] = load_satellite(
                wh, source, business_key, key, dw_schema, load_ts, writer=txn.append
            )
    return counts


def load_hub_multi(
    wh: Warehouse,
    sources: list[tuple[DataFrame, int]],
    business_key: BusinessKey,
    dw_schema: str = "dw",
    load_ts: datetime.datetime | None = None,
) -> int:
    """Multi-source hub load -- completes the reference's TODO "Need
    acount for more than once source" (dv_loader.rs:148,216): the same
    business key fed by several source tables.

    ``sources`` pairs each DataFrame with the index into every part
    link's ``source_columns`` list that describes that source's column
    names (model/dv_schema.rs:38: Source Column Data is a Vec for
    exactly this reason). Stages from all sources union; when two
    sources carry the same key, the lower source index wins
    deterministically; then the usual anti-join append.
    """
    table = f"{dw_schema}.hub_{business_key.name}"
    hk = f"hub_{business_key.name}_hk"
    appended = 0
    if wh.row_count(table) == 0:
        ghosts = _with_partition_cols(
            wh, table, ghost_records_df(sources[0][0], business_key)
        )
        appended += wh.append(table, ghosts)

    staged_parts = []
    for priority, (source, src_idx) in enumerate(sources):
        src_types = dict(source.dtypes)
        part_cols, part_exprs = [], []
        for p in business_key.business_key_part_links:
            col_name = p.source_columns[src_idx].column_name
            rendered = pg_text_expr(F.col(col_name), src_types.get(col_name, "string"))
            part_cols.append(rendered.alias(f"{p.alias}_bk"))
            part_exprs.append(rendered)
        schema_name = business_key.business_key_part_links[0].source_columns[
            src_idx
        ].schema_name
        staged_parts.append(
            source.select(
                F.sha2(F.concat_ws(",", *part_exprs), 256).alias(hk),
                _load_ts_col(load_ts).alias("load_ts"),
                F.lit(schema_name).alias("record_source"),
                *part_cols,
                F.lit(priority).alias("__prio"),
            )
        )
    union = staged_parts[0]
    for s in staged_parts[1:]:
        union = union.unionByName(s)
    from pyspark.sql import Window

    w = Window.partitionBy(hk).orderBy("__prio")
    staged = (
        union.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )
    staged = _with_partition_cols(wh, table, staged)
    existing = wh.read(table)
    new_rows = staged.join(existing.select(hk), on=hk, how="left_anti")
    return appended + wh.append(table, new_rows.select(*existing.columns))
