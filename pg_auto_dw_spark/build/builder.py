"""go() orchestration: build_call snapshot -> BusinessKey assembly ->
DDL -> target-column resolution -> dv_repo persistence -> load
(SURVEY.md section 3.1; reference: extension/src/lib.rs:16-37 +
controller/dv_builder.rs).

The ready-set is column-grain metadata, so collecting it to the driver
(as the reference's SPI cursor does) is the correct altitude. Hub and
satellite loads stay distributed, except an incremental load small
enough to stage on the driver (the ``loader`` module docstring).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame

from ..model.dv_schema import (
    BusinessKey,
    BusinessKeyPartLink,
    ColumnData,
    Descriptor,
    DescriptorLink,
    DVSchema,
)
from ..model.status import RTD, status_rows
from .ddl import hub_schema, satellite_schemas
from .loader import load_hub, load_satellite, stage_business_key


_PULLED = (
    "schema_name", "table_name", "business_key_name", "column_name", "column_type_name",
    "table_oid", "column_ordinal_position",
)


def ready_build_call_rows(source_objects, responses, threshold: str) -> list[dict]:
    """insert_into_build_call's SELECT (queries.rs:324-415) over the
    Arrow tables: the status rows of the columns that are Ready to
    Deploy, ordered by their response pk (fk_transformer_responses)."""
    rows = status_rows(source_objects, responses, threshold)
    ready = [r for r in rows if r["status"] == RTD]
    return sorted(ready, key=lambda r: r["pk_transformer_responses"])


def build_object_pull(ready: list[dict], system_id: int) -> list[dict]:
    """queries.rs:417-438: build_call -> responses -> source_objects
    (J7) + the system id (J6/S3). A ready row already carries its
    latest response and its catalog row, so the joins are a projection."""
    return [
        {**{c: r[c] for c in _PULLED}, "column_category": r["category"], "system_id": system_id}
        for r in ready
    ]


def assemble_business_keys(rows: list) -> list[BusinessKey]:
    """dv_builder.rs:56-160: bucket pulled rows by table_oid, build
    descriptors + BK part links, BK name = last non-'na' name
    (lowercased)."""
    by_table: dict[int, list] = {}
    for r in rows:
        if r["table_oid"] is None:
            # dangling build_call -> responses -> source_objects join
            # (deleted fk); nothing buildable from such a row
            continue
        by_table.setdefault(r["table_oid"], []).append(r)

    out: list[BusinessKey] = []
    for _, table_rows in sorted(by_table.items()):
        descriptors: list[Descriptor] = []
        part_links: list[BusinessKeyPartLink] = []
        for r in table_rows:
            cd = ColumnData(
                system_id=r["system_id"],
                schema_name=r["schema_name"],
                table_oid=r["table_oid"],
                table_name=r["table_name"],
                column_name=r["column_name"],
                column_ordinal_position=r["column_ordinal_position"],
                column_type_name=r["column_type_name"],
            )
            if r["column_category"] == "Descriptor":
                descriptors.append(
                    Descriptor(
                        descriptor_link=DescriptorLink(alias=r["column_name"], source_column=cd),
                        orbit=r["table_name"],
                        is_sensitive=False,
                    )
                )
            elif r["column_category"] == "Descriptor - Sensitive":
                descriptors.append(
                    Descriptor(
                        descriptor_link=DescriptorLink(alias=r["column_name"], source_column=cd),
                        orbit=r["table_name"],
                        is_sensitive=True,
                    )
                )
            elif r["column_category"] == "Business Key Part":
                part_links.append(
                    BusinessKeyPartLink(alias=r["column_name"], source_columns=[cd])
                )
        bk_name = ""
        for r in table_rows:  # last non-'na' wins (dv_builder.rs:129-138)
            candidate = (r["business_key_name"] or "").lower()
            if candidate and candidate != "na":
                bk_name = candidate
        if not part_links:
            continue
        out.append(
            BusinessKey(
                name=bk_name,
                business_key_part_links=part_links,
                descriptors=descriptors,
            )
        )
    return out


def add_target_columns(dv: DVSchema) -> None:
    """dv_builder.rs:230-342: attach the created hub/sat columns as
    target ColumnData. We derive them from the generated schemas (the
    reference re-introspects the catalog; same result, no round trip)."""
    for bk in dv.business_keys:
        hschema = hub_schema(bk)
        hub_table = f"hub_{bk.name}"
        for part in bk.business_key_part_links:
            ordinal = [f.name for f in hschema.fields].index(f"{part.alias}_bk") + 1
            part.target_column = ColumnData(
                system_id=part.source_columns[0].system_id,
                schema_name=dv.dw_schema,
                table_oid=0,
                table_name=hub_table,
                column_name=f"{part.alias}_bk",
                column_ordinal_position=ordinal,
                column_type_name="string",
            )
        sat_schemas = satellite_schemas(bk)
        for key, descriptors in bk.satellites().items():
            schema = sat_schemas[f"sat_{key}"]
            names = [f.name for f in schema.fields]
            for d in descriptors:
                ordinal = names.index(d.descriptor_link.alias) + 1
                d.descriptor_link.target_column = ColumnData(
                    system_id=d.descriptor_link.source_column.system_id,
                    schema_name=dv.dw_schema,
                    table_oid=0,
                    table_name=f"sat_{key}",
                    column_name=d.descriptor_link.alias,
                    column_ordinal_position=ordinal,
                    column_type_name=schema[d.descriptor_link.alias].dataType.simpleString(),
                )


def load_business_key(
    wh,
    source: DataFrame,
    business_key: BusinessKey,
    dw_schema: str = "dw",
    load_ts: datetime.datetime | None = None,
) -> dict[str, int]:
    """The reference's one-transaction load script
    (controller/dv_loader.rs:59-64 runs hub+satellite inserts in ONE
    Postgres transaction): the hub and every satellite of
    ``business_key`` land in one ``wh.transaction`` commit. Returns the
    rows appended per target (``hub_<name>``, ``sat_<key>``).

    When ``stage_business_key`` puts the load in the driver regime, one
    Spark job stages every leg and each leg anti-joins and appends on
    the driver; otherwise each leg is its own Spark anti-join write
    (``loader`` module docstring). Both regimes append the same rows.

    The anti-joins already make a crashed load re-runnable; the
    transaction also removes the window where the hub shows keys whose
    satellite rows are not yet visible -- readers see the batch entirely
    or not at all (at pointer-swap granularity; see SCALE.md on
    cross-table read isolation)."""
    hub = f"hub_{business_key.name}"
    tables = [hub] + [f"sat_{key}" for key in business_key.satellites()]
    with wh.transaction([f"{dw_schema}.{t}" for t in tables]) as txn:
        staged = stage_business_key(wh, source, business_key, dw_schema, load_ts) or {}
        counts = {
            hub: load_hub(
                wh, source, business_key, dw_schema, load_ts, writer=txn, staged=staged.get(hub)
            )
        }
        for key in business_key.satellites():
            sat = f"sat_{key}"
            counts[sat] = load_satellite(
                wh,
                source,
                business_key,
                key,
                dw_schema,
                load_ts,
                writer=txn,
                staged=staged.get(sat),
            )
    return counts


def build_and_load(
    wh,
    resolve_source,
    dv: DVSchema,
    load_ts: datetime.datetime | None = None,
    partition_by_load_date: bool = False,
) -> dict[str, int]:
    """DDL + full load for a DVSchema, one ``load_business_key``
    transaction per business key. resolve_source(schema, table) ->
    DataFrame. Returns appended-row counts per target table.

    ``partition_by_load_date`` creates date-partitioned hubs/satellites
    (the 100 TB layout -- incremental loads only touch new partitions)."""
    counts: dict[str, int] = {}
    # two tables classified with the same BK name would silently fight
    # over one hub table; fail loudly and point at the multi-source API
    names = [bk.name for bk in dv.business_keys]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(
            f"multiple business keys share hub name(s) {sorted(dupes)}: rename via "
            "the classifier/update_context, or model them as one multi-source hub "
            "(build.loader.load_hub_multi)"
        )
    part = ["load_date"] if partition_by_load_date else None
    for bk in dv.business_keys:
        wh.create_table(
            f"{dv.dw_schema}.hub_{bk.name}",
            hub_schema(bk, partitioned=partition_by_load_date),
            partition_by=part,
        )
        for name, schema in satellite_schemas(bk, partitioned=partition_by_load_date).items():
            wh.create_table(f"{dv.dw_schema}.{name}", schema, partition_by=part)
        source = resolve_source(*bk.source_table())
        counts.update(load_business_key(wh, source, bk, dv.dw_schema, load_ts))
    return counts
