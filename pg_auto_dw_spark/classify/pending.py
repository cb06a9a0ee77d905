"""Pending-classification detection + prompt payload assembly
(SURVEY.md A1/P8/A5/F8; reference: extension/src/model/queries.rs:9-62
``SOURCE_OBJECTS_JSON``).

A table needs (re)classification when its newest catalog version
postdates its newest transformer response, or it has none. The payload
packs per-column detail strings and column->pk links as JSON, ordered
by ordinal position (array_agg ORDER BY).

Altitude: one pass on the driver over the Arrow tables
(``Warehouse.read_arrow``), as the status engine (model/status.py):
``auto_dw.source_objects`` holds one row per source-column version,
about 10^4-10^6 rows even for a large warehouse. ``classify_pending``
hands ``prompt_rows`` straight to the classifier; ``source_table_prompts``
returns them to Spark as a local relation, which collects without a
Spark job. The JSON is byte for byte what Spark's ``to_json`` wrote for
the same rows.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..catalog.scd2 import tracked
from ..model.status import nulls_first
from ..warehouse import local_frame

PROMPT_SCHEMA = T.StructType(
    [T.StructField("table_oid", T.LongType())]
    + [T.StructField(n, T.StringType()) for n in ("table_column_links", "table_details")]
)


def _newer(a, b):
    """SQL MAX of two values: NULLs ignored."""
    return b if a is None else a if b is None else max(a, b)


def tables_requiring_transformation(source_objects, responses) -> list:
    """A1 + P8: the table_oids whose MAX(valid_from) over current columns
    postdates the MAX(created_at) of those columns' responses, or that
    have no response (queries.rs:10-23); ordered, NULLs first."""
    newest: dict = {}
    for r in responses.select(["fk_source_objects", "created_at"]).to_pylist():
        newest[r["fk_source_objects"]] = _newer(newest.get(r["fk_source_objects"]), r["created_at"])
    tables: dict = {}
    for s in tracked(source_objects.to_pylist()):
        update, generation = tables.get(s["table_oid"], (None, None))
        tables[s["table_oid"]] = (
            _newer(update, s["valid_from"]),
            _newer(generation, newest.get(s["pk_source_objects"])),
        )
    pending = [
        oid
        for oid, (update, generation) in tables.items()
        if generation is None or (update is not None and update > generation)
    ]
    return sorted(pending, key=lambda oid: (oid is not None, oid))


def _to_json(value) -> str:
    """Spark's ``to_json`` text of ``value``: compact, non-ASCII kept,
    control characters escaped as Jackson escapes them (upper-case hex).
    NULL struct fields are the caller's to leave out."""
    text = json.dumps(value, ensure_ascii=False, separators=(",", ":"))
    # an odd run of backslashes before u00xx ends in an escape, not text
    return re.sub(
        r"(\\+)u00([0-9a-f]{2})",
        lambda m: f"{m[1]}u00{m[2].upper() if len(m[1]) % 2 else m[2]}",
        text,
    )


def _details(c: dict) -> str | None:
    """'Column No: N Named: ... of type: ...' (queries.rs:38-47), NULL
    when any part is (Postgres ``||``)."""
    ordinal, name = c["column_ordinal_position"], c["column_name"]
    kind, comments = c["column_type_name"], c["column_description"]
    if ordinal is None or name is None or kind is None or comments is None:
        return None
    pk = "And is a primary key." if c["column_pk_ind"] == 1 else ""
    return f"Column No: {ordinal} Named: {name} of type: {kind} {pk}Column Comments: {comments}"


def source_table_prompts(source_objects, responses) -> DataFrame:
    """``prompt_rows`` as a DataFrame of ``PROMPT_SCHEMA``."""
    return local_frame(PROMPT_SCHEMA, prompt_rows(source_objects, responses))


def prompt_rows(source_objects, responses) -> list[tuple]:
    """One row per pending table: (table_oid, table_column_links JSON,
    table_details JSON) -- mirrors queries.rs:25-62 including the
    'Column No: N Named: ... of type: ...' detail format the client's
    column-number regex (F13) parses back out. Each array is ordered as
    ``array_sort`` orders (ord, element) structs; rows by table_oid."""
    pending = set(tables_requiring_transformation(source_objects, responses))
    tables: dict = {}
    for s in tracked(source_objects.to_pylist()):
        if s["table_oid"] is not None and s["table_oid"] in pending:
            key = (s["table_oid"], s["schema_name"], s["table_name"])
            tables.setdefault(key, []).append(s)
    rows = []
    for oid, schema, table in sorted(tables, key=nulls_first(0, 1, 2)):
        columns = tables[oid, schema, table]
        links = sorted(
            ({"ord": c["column_ordinal_position"], "pk": c["pk_source_objects"]} for c in columns),
            key=nulls_first("ord", "pk", "ord"),
        )
        details = sorted(
            ({"ord": c["column_ordinal_position"], "det": _details(c)} for c in columns),
            key=nulls_first("ord", "det"),
        )
        link_json = [
            _fields(("PK Source Objects", k["pk"]), ("Column Ordinal Position", k["ord"]))
            for k in links
        ]
        table_json = _fields(
            ("Schema Name", schema),
            ("Table Name", table),
            ("Column Details", [d["det"] for d in details]),
        )
        rows.append((oid, _to_json({"Column Links": link_json}), _to_json(table_json)))
    return rows


def _fields(*pairs) -> dict:
    """A struct as ``to_json`` writes it: NULL fields left out."""
    return {k: v for k, v in pairs if v is not None}
