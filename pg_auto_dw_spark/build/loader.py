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

Every staging frame (hub, satellite, link, multi-source hub) comes out
of one projection, ``_stage``, and every load appends through one
anti-join leg, ``_append_new``. ``builder.load_business_key`` runs a
business key's hub and satellite legs in one transaction.

Scale notes (100 TB posture):

- The anti-join is the one shuffle in this pipeline. Both sides hash on
  the same key (the 64-hex hash), which is uniformly distributed by
  construction -- no skew, and AQE picks broadcast when the target side
  is still small. With date-partitioned hubs/sats, the target scan
  prunes to nothing on first load.
- Everything stays in whole-stage codegen: the key text and its hash
  (``functions.hashing``) are JVM built-ins; there is no Python in the
  load path.
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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash_text, key_text, render, sha256_hex
from ..model.dv_schema import BusinessKey
from ..warehouse import Warehouse

GHOST_LOAD_TS_STR = "0001-01-01 00:00:00"
GHOST_RECORD_SOURCE = "SYSTEM"
_GHOST_KEYS = ("-1", "-2")


def ghost_records_df(source: DataFrame, business_key: BusinessKey) -> DataFrame:
    """The -1/-2 system rows (dv_loader.rs:110-135): hk = sha256('-1'|'-2'),
    load_ts = 0001-01-01, record_source = 'SYSTEM', every bk part = the
    sentinel value. Expressed as a union of two literal rows (O5)."""
    hk = f"hub_{business_key.name}_hk"
    parts = [f"{p.alias}_bk" for p in business_key.business_key_part_links]
    rows = [(hash_text(k), *[k] * len(parts)) for k in _GHOST_KEYS]
    return source.sparkSession.createDataFrame(rows, [hk, *parts]).select(
        hk,
        # '0001-01-01'::TIMESTAMP (dv_loader.rs:121,128). Parsed JVM-side
        # from a string: a Python datetime literal would shift +2 days
        # crossing the py4j boundary (hybrid->proleptic calendar rebase).
        F.to_timestamp(F.lit(GHOST_LOAD_TS_STR)).alias("load_ts"),
        F.lit(GHOST_RECORD_SOURCE).alias("record_source"),
        *parts,
    )


def _stage(
    source: DataFrame,
    ids: dict[str, Column],
    record_source: str,
    load_ts: datetime.datetime | None,
    carry: dict[str, Column] | None = None,
    derived: dict[str, Column] | None = None,
) -> DataFrame:
    """The one staging projection behind every vault load. ``ids`` and
    ``derived`` map each output hash column to its key text
    (``hashing.key_text``); ``carry`` maps plain output columns to their
    expressions. Rows with equal ``ids`` texts are dropped as duplicates
    -- the anti-join only removes rows already in the target, so
    without this a non-unique source would append one key or version
    twice in one load -- and every text is hashed AFTER that exchange.

    Why the text and not the digest: hash = sha256(text), so dropping
    duplicate texts keeps exactly the rows dropping duplicate digests
    keeps, while the shuffle carries ~30B of rendered key per row
    instead of a 64-char digest per hash column (5-10x narrower, the
    term that dominates staging at warehouse scale). It must be the
    joined text, not the part tuple: concat_ws skips NULLs, so distinct
    tuples can join -- and hash -- equal.

    Output: the first id, load_ts (``load_ts``, else the current
    timestamp: CURRENT_TIMESTAMP AT TIME ZONE 'UTC', dv_loader.rs:173),
    record_source, the other ids, the derived hashes, the carry columns.
    """
    texts = {**ids, **(derived or {})}
    carry = carry or {}
    pre = source.select(
        *[t.alias(f"__{n}") for n, t in texts.items()],
        *[c.alias(n) for n, c in carry.items()],
    ).dropDuplicates([f"__{n}" for n in ids])
    first, *rest = texts
    ts = F.lit(load_ts).cast("timestamp") if load_ts else F.current_timestamp()
    return pre.select(
        sha256_hex(F.col(f"__{first}")).alias(first),
        ts.alias("load_ts"),
        F.lit(record_source).alias("record_source"),
        *[sha256_hex(F.col(f"__{n}")).alias(n) for n in rest],
        *carry,
    )


def _hub_stage(
    source: DataFrame,
    business_key: BusinessKey,
    load_ts: datetime.datetime | None,
    source_index: int,
) -> DataFrame:
    """Hub rows of the source that every part link's
    ``source_columns[source_index]`` describes."""
    links = business_key.business_key_part_links
    cols = [p.source_columns[source_index].column_name for p in links]
    types = dict(source.dtypes)
    return _stage(
        source,
        {f"hub_{business_key.name}_hk": key_text(cols, types)},
        links[0].source_columns[source_index].schema_name,
        load_ts,
        carry={f"{p.alias}_bk": t for p, t in zip(links, render(cols, types))},
    )


def hub_stage_df(
    source: DataFrame,
    business_key: BusinessKey,
    load_ts: datetime.datetime | None = None,
) -> DataFrame:
    """Staged hub rows from a source DataFrame (dv_loader.rs:160-176).

    hk = sha256(concat_ws(',', part::text...)); record_source = source
    schema name (dv_loader.rs:169-175). The reference relies on source
    PK uniqueness instead of de-duplicating; duplicate keys are dropped
    here so a non-unique source can't corrupt the hub -- semantics
    identical on unique sources."""
    return _hub_stage(source, business_key, load_ts, 0)


def satellite_stage_df(
    source: DataFrame,
    business_key: BusinessKey,
    satellite_key: str,
    load_ts: datetime.datetime | None = None,
) -> DataFrame:
    """Staged satellite rows (dv_loader.rs:325-357): hub hash key +
    hash-diff over this satellite's descriptor columns + the descriptor
    columns themselves in source types, one row per (hk, hd)."""
    links = [
        d.descriptor_link
        for d in business_key.satellites()[satellite_key]
        if d.descriptor_link.source_column
    ]
    key_cols = [p.source_columns[0].column_name for p in business_key.business_key_part_links]
    desc_cols = [link.source_column.column_name for link in links]
    types = dict(source.dtypes)
    return _stage(
        source,
        {
            f"hub_{business_key.name}_hk": key_text(key_cols, types),
            f"sat_{satellite_key}_hd": key_text(desc_cols, types),
        },
        business_key.source_table()[0],
        load_ts,
        carry={link.alias: F.col(c) for link, c in zip(links, desc_cols)},
    )


def _with_partition_cols(wh: Warehouse, table: str, df: DataFrame) -> DataFrame:
    """Add the load_date partition column when the target table is
    date-partitioned (100 TB layout, SCALE.md)."""
    if "load_date" in wh._partitioning.get(table, []):
        df = df.withColumn("load_date", F.to_date("load_ts"))
    return df


def _append_new(wh: Warehouse, table: str, staged: DataFrame, on: list[str], sink=None) -> int:
    """The one anti-join leg (dv_loader.rs:177-181,339-346): append the
    staged rows whose ``on`` key the live table lacks, through ``sink``
    (default ``wh.append``). Returns the rows appended, as the sink
    observes them on the write. The anti-join always reads the LIVE
    table -- correct inside a transaction, where each table is staged
    by one leg whose rows are key-novel by construction."""
    existing = wh.read(table)
    new_rows = _with_partition_cols(wh, table, staged).join(
        existing.select(*on), on=on, how="left_anti"
    )
    return (sink or wh.append)(table, new_rows.select(*existing.columns))


def _load_hub_rows(
    wh: Warehouse,
    business_key: BusinessKey,
    dw_schema: str,
    staged: DataFrame,
    sink=None,
) -> int:
    """Ghost-init, then the anti-join append of ``staged`` hub rows."""
    table = f"{dw_schema}.hub_{business_key.name}"
    hk = f"hub_{business_key.name}_hk"
    sink = sink or wh.append
    appended = 0
    # Ghost init only when the hub is empty (dv_loader.rs:111-118 A4).
    if wh.row_count(table) == 0:
        ghosts = ghost_records_df(staged, business_key)
        appended += sink(table, _with_partition_cols(wh, table, ghosts))
        # The ghosts own the keys '-1'/'-2', as the reference's NOT EXISTS
        # skips them after its ghost insert. Filtered here because inside
        # a transaction the anti-join reads a live hub without the ghosts.
        staged = staged.filter(~F.col(hk).isin([hash_text(k) for k in _GHOST_KEYS]))
    return appended + _append_new(wh, table, staged, [hk], sink)


def load_hub(
    wh: Warehouse,
    source: DataFrame,
    business_key: BusinessKey,
    dw_schema: str = "dw",
    load_ts: datetime.datetime | None = None,
    writer=None,
) -> int:
    """Ghost-init + anti-join insert of new hub keys. Returns rows
    appended. ``writer`` overrides the append sink (a transaction's
    ``txn.append``, as ``builder.load_business_key`` passes)."""
    staged = hub_stage_df(source, business_key, load_ts=load_ts)
    return _load_hub_rows(wh, business_key, dw_schema, staged, writer)


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
    return _append_new(
        wh,
        f"{dw_schema}.sat_{satellite_key}",
        satellite_stage_df(source, business_key, satellite_key, load_ts=load_ts),
        [f"hub_{business_key.name}_hk", f"sat_{satellite_key}_hd"],
        writer,
    )


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
    hk = f"hub_{business_key.name}_hk"
    union = None
    for priority, (source, src_idx) in enumerate(sources):
        staged = _hub_stage(source, business_key, load_ts, src_idx).withColumn(
            "__prio", F.lit(priority)
        )
        union = staged if union is None else union.unionByName(staged)
    w = Window.partitionBy(hk).orderBy("__prio")
    staged = (
        union.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )
    return _load_hub_rows(wh, business_key, dw_schema, staged)
