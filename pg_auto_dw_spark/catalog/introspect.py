"""Catalog snapshot builder (SURVEY.md S2: the pg_catalog crawl).

Produces the column-grain snapshot DataFrame that feeds the SCD2 merge
-- the Spark analog of the reference's 5-way catalog join into
``temp_source_objects`` (reference: extension/src/model/queries.rs:
71-162). Sources are StructType introspection of the registered
DataFrames; PK/FK/description facts come from the SourceRegistry
(Spark's catalog has no constraints); type-name rendering is our F10
``format_type`` analog.

Driver-side row assembly is the right altitude here: a catalog snapshot
is metadata (one row per column, thousands at most), just as the
reference's is. The frame is built from an Arrow table, so it is a
local relation: the driver-side SCD2 merge that consumes it collects it
without running a Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .registry import SourceRegistry, synthetic_oid
from ..warehouse import local_frame

SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("schema_oid", T.LongType(), False),
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("schema_description", T.StringType(), True),
        T.StructField("table_oid", T.LongType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("table_description", T.StringType(), False),
        T.StructField("column_ordinal_position", T.IntegerType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("column_base_type_name", T.StringType(), False),
        T.StructField("column_modification_number", T.IntegerType(), True),
        T.StructField("column_type_name", T.StringType(), False),
        T.StructField("column_description", T.StringType(), False),
        T.StructField("column_pk_ind", T.IntegerType(), False),
        T.StructField("column_pk_name", T.StringType(), False),
        T.StructField("column_fk_ind", T.IntegerType(), False),
    ]
)


def format_type(dt: T.DataType) -> tuple[str, str]:
    """(type_name, base_type_name) strings for a Spark type -- our analog
    of format_type(atttypid, atttypmod) + pg_type.typname (queries.rs:100,
    109-114)."""
    s = dt.simpleString()
    base = s.split("(")[0]
    return s, base


def catalog_snapshot(
    spark: SparkSession,
    tables: dict[tuple[str, str], DataFrame],
    registry: SourceRegistry,
) -> DataFrame:
    """One row per schema x table x column, with PK/FK/comment facts.

    Mirrors source_objects_prep (queries.rs:131-162): COALESCE 'NA'
    defaults for absent descriptions and pk names, 0 for indicator
    columns.
    """
    rows = []
    for (schema_name, table_name), df in sorted(tables.items()):
        meta = registry.get(schema_name, table_name)
        pk_name = meta.effective_pk_name() or "NA"
        for ordinal, fld in enumerate(df.schema.fields, start=1):
            type_name, base_type = format_type(fld.dataType)
            is_pk = fld.name in meta.pk_columns
            rows.append(
                (
                    synthetic_oid(schema_name),
                    schema_name,
                    registry.schema_descriptions.get(schema_name),
                    synthetic_oid(schema_name, table_name),
                    table_name,
                    meta.description or "NA",
                    ordinal,
                    fld.name,
                    base_type,
                    None,
                    type_name,
                    meta.column_descriptions.get(fld.name, "NA"),
                    1 if is_pk else 0,
                    pk_name if is_pk else "NA",
                    1 if fld.name in meta.fk_columns else 0,
                )
            )
    return local_frame(SNAPSHOT_SCHEMA, rows, spark)
