"""Hub / satellite DDL generation (SURVEY.md S6, section 2.1).

The reference renders CREATE TABLE strings and runs them through SPI
(reference: extension/src/controller/dv_builder.rs:378-448,163-167).
We render Spark ``StructType`` schemas instead and let the Warehouse
create parquet-backed tables; a ``to_sql`` renderer also emits the
ANSI DDL for parity inspection.

Type policy mirrors the reference exactly (dv_builder.rs:385-397,
418-419): hub hash keys and ``*_bk`` parts degrade to strings, load_ts
is a timestamp, satellite descriptor columns keep their *source* type.
"""

from __future__ import annotations

from pyspark.sql import types as T

from ..model.dv_schema import BusinessKey

# Postgres-ish type-name string -> Spark type (SURVEY.md section 1.2).
_PG_TO_SPARK: dict[str, T.DataType] = {
    "uuid": T.StringType(),
    "text": T.StringType(),
    "name": T.StringType(),
    "json": T.StringType(),
    "oid": T.LongType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "int4": T.IntegerType(),
    "smallint": T.ShortType(),
    "int2": T.ShortType(),
    "bigint": T.LongType(),
    "int8": T.LongType(),
    "bigserial": T.LongType(),
    "real": T.FloatType(),
    "float": T.FloatType(),
    "float4": T.FloatType(),
    "tinyint": T.ByteType(),
    "binary": T.BinaryType(),
    "double precision": T.DoubleType(),
    "float8": T.DoubleType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "string": T.StringType(),
}


def spark_type_for(type_name: str, column: str | None = None) -> T.DataType:
    """Map a catalog type-name string to a Spark type (F10 analog --
    the reference carries types as strings from format_type,
    model/queries.rs:100). Accepts both PG-ish names and Spark
    simpleString/DDL names (incl. complex types like array<float>):
    the snapshot records simpleString. A name neither parses raises
    ``ValueError`` naming it and ``column``: a string fallback would
    declare a satellite column as string while the loader writes the
    native type -- corrupting the table on the second read."""
    t = type_name.strip().lower()
    if t in _PG_TO_SPARK:
        return _PG_TO_SPARK[t]
    if t.startswith(("varchar", "char", "character")):
        return T.StringType()
    if t.startswith(("numeric", "decimal")):
        if "(" in t:
            inner = t[t.index("(") + 1 : t.index(")")]
            parts = [p.strip() for p in inner.split(",")]
            prec = int(parts[0])
            scale = int(parts[1]) if len(parts) > 1 else 0
            return T.DecimalType(prec, scale)
        return T.DecimalType(38, 18)
    if t.startswith("timestamp"):
        return T.TimestampType()
    try:
        # Spark DDL names: float, tinyint, binary, array<...>, map<...>,
        # struct<...> -- anything simpleString/format_type could emit.
        return T.DataType.fromDDL(t)
    except Exception as e:
        raise ValueError(f"unknown source type {type_name!r} of column {column!r}") from e


def hub_schema(business_key: BusinessKey, partitioned: bool = False) -> T.StructType:
    """hub_<bk>(hub_<bk>_hk, load_ts, record_source, <alias>_bk...)
    (reference: dv_builder.rs:390-397). ``partitioned`` appends the
    load_date partition column (100 TB layout: incremental loads touch
    only new date partitions -- SCALE.md)."""
    fields = [
        T.StructField(f"hub_{business_key.name}_hk", T.StringType(), False),
        T.StructField("load_ts", T.TimestampType(), False),
        T.StructField("record_source", T.StringType(), False),
    ]
    for part in business_key.business_key_part_links:
        fields.append(T.StructField(f"{part.alias}_bk", T.StringType(), True))
    if partitioned:
        fields.append(T.StructField("load_date", T.DateType(), True))
    return T.StructType(fields)


def satellite_schemas(
    business_key: BusinessKey, partitioned: bool = False
) -> dict[str, T.StructType]:
    """sat_<orbit>[_sensitive](hub_<bk>_hk, load_ts, record_source,
    sat_<key>_hd, <descriptor cols in source types>)
    (reference: dv_builder.rs:428-436; sensitive split at :406-416)."""
    out: dict[str, T.StructType] = {}
    for key, descriptors in business_key.satellites().items():
        fields = [
            T.StructField(f"hub_{business_key.name}_hk", T.StringType(), False),
            T.StructField("load_ts", T.TimestampType(), False),
            T.StructField("record_source", T.StringType(), False),
            T.StructField(f"sat_{key}_hd", T.StringType(), False),
        ]
        for d in descriptors:
            src, alias = d.descriptor_link.source_column, d.descriptor_link.alias
            kind = spark_type_for(src.column_type_name if src else "text", alias)
            fields.append(T.StructField(alias, kind, True))
        if partitioned:
            fields.append(T.StructField("load_date", T.DateType(), True))
        out[f"sat_{key}"] = T.StructType(fields)
    return out


def ddl_sql(qualified_name: str, schema: T.StructType) -> str:
    """ANSI rendering of a table's DDL (``name TYPE[ NOT NULL]`` per
    column), for logs/parity checks."""
    cols = [
        f"{f.name} {f.dataType.simpleString().upper()}" + ("" if f.nullable else " NOT NULL")
        for f in schema.fields
    ]
    return f"CREATE TABLE {qualified_name} (\n    " + ",\n    ".join(cols) + "\n)"


def hub_ddl_sql(dw_schema: str, business_key: BusinessKey) -> str:
    return ddl_sql(f"{dw_schema}.hub_{business_key.name}", hub_schema(business_key))


def satellite_ddl_sql(dw_schema: str, business_key: BusinessKey) -> dict[str, str]:
    return {
        name: ddl_sql(f"{dw_schema}.{name}", schema)
        for name, schema in satellite_schemas(business_key).items()
    }
