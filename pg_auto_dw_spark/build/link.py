"""Data Vault link tables -- the extension completing the reference's
"Ready to Deploy - Awaiting Link Implementation" path.

The reference v0.0.2 detects multi-BK situations (bkp_cnt > 1 window
flag, SURVEY W2) and parks them behind the 'Awaiting Link
Implementation' status; no link builder exists (reference:
model/queries.rs:376-379 statuses; dv_builder.rs TODO at :129 for link
handling). This module implements the standard DV 2.0 link shape with
the same conventions the reference uses for hubs:

    link_<name>(link_<name>_hk, load_ts, record_source,
                hub_<bk>_hk per referenced hub)

    link_hk   = sha256(concat_ws(',', fk_cols::text...))
    hub hks   = sha256(fk_col::text)  (matches each hub's key hash)

Loads are anti-join idempotent on link_hk, exactly like hub loads
(dv_loader.rs:177-181). Same scale posture: uniform hash keys, one
shuffle, no skew.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import pg_text_expr
from ..warehouse import Warehouse
from .ddl import ddl_sql


@dataclass
class LinkUnit:
    """One referenced hub: bk_name (hub name) + the source column(s)
    carrying that hub's business key in the link's source table."""

    bk_name: str
    source_columns: list[str]


@dataclass
class LinkSpec:
    name: str
    schema_name: str
    table_name: str
    units: list[LinkUnit]


def link_schema(spec: LinkSpec) -> T.StructType:
    fields = [
        T.StructField(f"link_{spec.name}_hk", T.StringType(), False),
        T.StructField("load_ts", T.TimestampType(), False),
        T.StructField("record_source", T.StringType(), False),
    ]
    for u in spec.units:
        fields.append(T.StructField(f"hub_{u.bk_name}_hk", T.StringType(), False))
    return T.StructType(fields)


def link_ddl_sql(dw_schema: str, spec: LinkSpec) -> str:
    return ddl_sql(f"{dw_schema}.link_{spec.name}", link_schema(spec))


def link_stage_df(
    source: DataFrame, spec: LinkSpec, load_ts: datetime.datetime | None = None
) -> DataFrame:
    src_types = dict(source.dtypes)

    def rendered(cols: list[str]):
        return [pg_text_expr(F.col(c), src_types.get(c, "string")) for c in cols]

    from .loader import _load_ts_col

    # Dedup on the PRE-hash joined key strings and hash afterwards:
    # link_hk = sha256(joined), so dropDuplicates(joined) keeps exactly
    # the rows dropDuplicates(link_hk) kept, but the dedup shuffle
    # carries ~30B of rendered key text per row instead of four 64-char
    # hex digests (~270B) -- a 5-10x staging-shuffle reduction, the
    # term that dominates link loads at warehouse scale. (Dedup must
    # use the JOINED string, not the raw part tuple: concat_ws skips
    # NULLs, so distinct part tuples can join -- and hash -- equal.)
    all_parts = []
    unit_joins = []
    for u in spec.units:
        parts = rendered(u.source_columns)
        all_parts.extend(parts)
        unit_joins.append(F.concat_ws(",", *parts).alias(f"__j_{u.bk_name}"))
    staged = source.select(
        F.concat_ws(",", *all_parts).alias("__j_link"), *unit_joins
    ).dropDuplicates(["__j_link"])
    return staged.select(
        F.sha2(F.col("__j_link"), 256).alias(f"link_{spec.name}_hk"),
        _load_ts_col(load_ts).alias("load_ts"),
        F.lit(spec.schema_name).alias("record_source"),
        *[
            F.sha2(F.col(f"__j_{u.bk_name}"), 256).alias(f"hub_{u.bk_name}_hk")
            for u in spec.units
        ],
    )


def load_link(
    wh: Warehouse,
    source: DataFrame,
    spec: LinkSpec,
    dw_schema: str = "dw",
    load_ts: datetime.datetime | None = None,
) -> int:
    """Create-if-missing + anti-join insert of new link keys. Returns
    rows appended, as the append observes them on the write."""
    table = f"{dw_schema}.link_{spec.name}"
    hk = f"link_{spec.name}_hk"
    wh.create_table(table, link_schema(spec))
    staged = link_stage_df(source, spec, load_ts=load_ts)
    new_rows = staged.join(wh.read(table).select(hk), on=hk, how="left_anti")
    return wh.append(table, new_rows.select(*link_schema(spec).names))
