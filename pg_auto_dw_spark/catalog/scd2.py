"""SCD2 merge of catalog snapshots into ``auto_dw.source_objects``
(SURVEY.md section 3.2; reference: extension/src/model/queries.rs:65-321).

The reference runs one SQL script per crawl: build temp snapshot,
UNION/EXCEPT include-exclude filtering, then four sequential DML
statements. We compute the same final state in one pass over the rows:

1. mark deleted   (current row, key absent from snapshot)     J8/S8
2. close changed  (key present, any tracked col IS DISTINCT)  P6/S8
3. resurrect      (deleted row reappears, OR-equality chain)  P7/S8
4. insert new     (snapshot key with no surviving current row) J5/S7

Sequential-update equivalence argument: (1) and (2)/(3) are disjoint
(deletion requires no key match; change/resurrect require a match);
(3) only touches rows not closed by (2) (closing clears current_flag,
and the reference's update runs after the close); (4) inserts exactly
the snapshot keys whose current row was closed or never existed. So a
single pass over the current rows with those predicates lands in the
identical state.

Altitude: the table is column-grain metadata -- one row per source
column, hundreds to thousands -- just like the reference's, which a
background worker merges in-process every 10 s. So the pass runs on the
driver, as the snapshot itself is built there: the live files are read
with pyarrow (``Warehouse.read_arrow``), the snapshot's rows come from
the Arrow table behind its local relation (``warehouse.driver_rows``: no
call into the JVM; any other frame is collected), and the result is committed
as one parquet file in a fresh generation (``Warehouse.overwrite_rows``).
A crawl that changes nothing commits nothing. The data-grain SCD2 of a
dimension is a different animal and stays distributed
(build/scd2_dim.py, build/merge.py).
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .introspect import SNAPSHOT_SCHEMA
from ..warehouse import Warehouse, driver_rows

TABLE = "auto_dw.source_objects"
KEYS = ["schema_oid", "table_oid", "column_ordinal_position"]

# The 12 change-tracked columns (queries.rs:240-253).
TRACKED = [
    "schema_name",
    "schema_description",
    "table_name",
    "table_description",
    "column_name",
    "column_base_type_name",
    "column_modification_number",
    "column_type_name",
    "column_description",
    "column_pk_ind",
    "column_pk_name",
    "column_fk_ind",
]

SOURCE_OBJECTS_SCHEMA = T.StructType(
    [T.StructField("pk_source_objects", T.LongType(), False)]
    + SNAPSHOT_SCHEMA.fields
    + [
        T.StructField("column_dw_flag", T.StringType(), False),
        T.StructField("valid_from", T.TimestampType(), True),
        T.StructField("valid_to", T.TimestampType(), True),
        T.StructField("current_flag", T.StringType(), False),
        T.StructField("deleted_flag", T.StringType(), False),
    ]
)

_PATTERN_COLS = ("schema_name", "table_name", "column_name")


def ensure_table(wh: Warehouse) -> None:
    wh.create_table(TABLE, SOURCE_OBJECTS_SCHEMA)


def tracked(rows: list[dict]) -> list[dict]:
    """The current, non-deleted column versions among ``rows``."""
    return [r for r in rows if r["current_flag"] == "Y" and r["deleted_flag"] == "N"]


def _key(row: dict) -> tuple:
    return tuple(row[k] for k in KEYS)


def _compile(patterns: tuple[str, str, str]) -> list[re.Pattern]:
    """The three (schema, table, column) regexes; a bad one raises
    ``ValueError`` naming it before anything is read or written."""
    out = []
    for p in patterns:
        try:
            out.append(re.compile(p))
        except re.error as e:
            raise ValueError(f"invalid source pattern {p!r}: {e}") from None
    return out


def _matches(row: dict, patterns: list[re.Pattern]) -> bool:
    return all(p.search(row[c]) for p, c in zip(patterns, _PATTERN_COLS))


def merge_snapshot(
    wh: Warehouse, snapshot: DataFrame, as_of: datetime.datetime | None = None
) -> dict[str, int]:
    """Run the 4-step SCD2 merge; returns row counts per action."""
    return _merge(wh, snapshot, as_of)


def _merge(wh: Warehouse, snapshot: DataFrame, as_of, patterns=None) -> dict[str, int]:
    """The merge, optionally after the include/exclude filter of
    ``crawl`` (``patterns`` = compiled (include, exclude))."""
    snap_rows = driver_rows(snapshot, SNAPSHOT_SCHEMA.names)
    ensure_table(wh)
    # Postgres-transaction parity: the whole read-compute-write cycle
    # holds the table lock, so two concurrent merges serialize instead
    # of losing an update (reference: dv_loader.rs:59-64 runs the full
    # script in one SPI transaction).
    with wh.lock(TABLE):
        rows = wh.read_arrow(TABLE).to_pylist()
        if patterns is not None:
            # keep = (keys currently tracked UNION keys matching include)
            #        EXCEPT keys matching exclude      (queries.rs:164-194)
            include, exclude = patterns
            keep = {_key(r) for r in tracked(rows)}
            keep |= {_key(r) for r in snap_rows if _matches(r, include)}
            keep -= {_key(r) for r in snap_rows if _matches(r, exclude)}
            snap_rows = [r for r in snap_rows if _key(r) in keep]
        snap = {_key(r): r for r in snap_rows}
        # ``as_of`` converts as ``F.lit(as_of).cast("timestamp")`` does
        now = as_of or datetime.datetime.now(datetime.timezone.utc)
        counts = dict.fromkeys(("deleted", "closed", "resurrected", "inserted"), 0)
        surviving = set()
        for r in rows:
            if r["current_flag"] != "Y":
                continue
            s = snap.get(_key(r))
            if s is None:
                counts["deleted"] += r["deleted_flag"] == "N"
                r["deleted_flag"] = "Y"
            # any tracked column IS DISTINCT FROM its snapshot value (P6)
            elif any(r[c] != s[c] for c in TRACKED):
                counts["closed"] += 1
                r["current_flag"], r["valid_to"] = "N", now
            else:
                surviving.add(_key(r))
                # resurrect: a deleted row reappears with any plainly-equal
                # column (P7; null-unsafe OR chain as in queries.rs:263-276).
                # Every column is equal here, so "plainly" means non-null.
                if r["deleted_flag"] == "Y" and any(r[c] is not None for c in TRACKED):
                    counts["resurrected"] += 1
                    r["deleted_flag"] = "N"
        # insert: snapshot keys whose current row was closed or never
        # existed, numbered on from the largest pk (Postgres-sequence
        # analog, utility/sql/info_tables.sql)
        inserts = sorted(
            (s for k, s in snap.items() if k not in surviving),
            key=lambda s: (s["schema_name"], s["table_name"], s["column_ordinal_position"]),
        )
        pk = max((r["pk_source_objects"] for r in rows), default=0)
        for i, s in enumerate(inserts, start=pk + 1):
            rows.append(
                {**s, "pk_source_objects": i, "column_dw_flag": "N", "valid_from": now,
                 "valid_to": None, "current_flag": "Y", "deleted_flag": "N"}
            )
        counts["inserted"] = len(inserts)
        if any(counts.values()):
            names = SOURCE_OBJECTS_SCHEMA.names
            wh.overwrite_rows(TABLE, [tuple(r[c] for c in names) for r in rows])
        return counts


def crawl(
    wh: Warehouse,
    snapshot: DataFrame,
    include: tuple[str, str, str] = ("a^", "a^", "a^"),
    exclude: tuple[str, str, str] = ("a^", "a^", "a^"),
    as_of: datetime.datetime | None = None,
) -> dict[str, int]:
    """One crawler iteration (reference: bgw_source_objects.rs:18-51):
    filter the snapshot by the include/exclude key-list semantics, then
    merge. Patterns are regexes found anywhere in the name (``rlike``);
    default patterns track only already-included keys, exactly like the
    background worker's 'a^' x6 call."""
    return _merge(wh, snapshot, as_of, (_compile(include), _compile(exclude)))
