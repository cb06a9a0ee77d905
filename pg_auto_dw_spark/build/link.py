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
from pyspark.sql import types as T

from ..functions.hashing import key_text
from ..warehouse import Warehouse
from .ddl import ddl_sql
from .loader import _append_new, _Leg, _stage


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
    """Staged link rows, one per link key: link_hk over every unit's
    columns, plus each referenced hub's key hash."""
    types = dict(source.dtypes)
    link_cols = [c for u in spec.units for c in u.source_columns]
    leg = _Leg(
        {f"link_{spec.name}_hk": key_text(link_cols, types)},
        spec.schema_name,
        {},
        {f"hub_{u.bk_name}_hk": key_text(u.source_columns, types) for u in spec.units},
    )
    return _stage(source, leg, load_ts)


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
    wh.create_table(table, link_schema(spec))
    staged = link_stage_df(source, spec, load_ts=load_ts)
    return _append_new(wh, table, staged, [f"link_{spec.name}_hk"])
