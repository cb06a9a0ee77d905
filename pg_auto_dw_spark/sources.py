"""Test-data source loading (SURVEY.md S4: heap-table scan -> parquet scan).

Centralizes reading the driver's parquet tables so every query sees the
same normalized schema:

- Timestamp columns are normalized to session-UTC TIMESTAMP whatever
  the file vintage: TIMESTAMP(NANOS) (read as long nanos, floor-divided
  to micros -- the truncation DuckDB applies) or TIMESTAMP(MICROS) NTZ
  (cast, value-preserving under the UTC session timezone). Oracle
  hashes line up either way.

Scale posture: these are plain ``spark.read.parquet`` scans, so column
pruning and predicate pushdown reach the file scan (verify with
``df.explain`` -> PushedFilters/ReadSchema). At 100 TB the same code
reads a partitioned directory tree and Catalyst prunes partitions.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import prepare

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with schema normalization applied."""
    prepare(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos -> micros with integer division (a double division here
        # would lose precision: epoch-nanos exceed 2^53), truncating the
        # same way DuckDB does when it reads the same file.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # Depending on the Spark build, parquet TIMESTAMP columns (and
    # TIMESTAMP(NANOS) under truncating readers) surface as
    # TIMESTAMP_NTZ. Every oracle and timestamp function here assumes
    # session-local (UTC) TIMESTAMP, so normalize; the cast is
    # value-preserving under the UTC session timezone.
    ntz = [c for c, d in df.dtypes if d == "timestamp_ntz"]
    if ntz:
        df = df.select(
            *[
                F.col(c).cast("timestamp").alias(c) if c in ntz else F.col(c)
                for c in df.columns
            ]
        )
    return df


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Generic source reader (the S4 scan for non-parquet feeds): the
    reference reads Postgres heap tables; external sources here are
    parquet/orc/csv/json files or directories. CSV defaults to header
    + no inference unless a schema is given (inference = an extra full
    scan -- unacceptable at 100 TB, so pass a schema in production).
    Parquet and ORC are the columnar paths (pushdown + pruning reach
    the scan); csv/json exist for landing feeds, not analytics."""
    prepare(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if schema is None:
            options.setdefault("inferSchema", "true")
        return reader.options(**options).csv(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "parquet":
        return reader.options(**options).parquet(path)
    if fmt == "orc":
        return reader.options(**options).orc(path)
    raise ValueError(f"unsupported source format: {fmt!r}")


def split_jsonl_lines(
    lines: DataFrame,
    schema,
    corrupt_col: str = "_corrupt_record",
    line_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Frame-level JSONL split shared by the batch reader and the
    streaming ingest sink: raw lines in, ``(clean, quarantined)`` out.
    ``clean`` has exactly ``schema``; ``quarantined`` is (raw_line),
    the verbatim bad lines -- malformed JSON AND schema-drift rows
    (a line that parses but mismatches the declared types is corrupt
    under from_json's PERMISSIVE corrupt-record contract, so drift
    lands in quarantine, never as silent nulls).

    Built on ``from_json`` with a corrupt-record column rather than
    the PERMISSIVE json READER: the reader path raises SPARK-21610 /
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN the moment
    the quarantine output prunes to just the corrupt column, and the
    stock cache workaround is exactly the unbounded-SQL-cache pattern
    this package bans. As a column expression each output is ONE scan
    of the lines + a codegen'd parse, any corpus size."""
    from pyspark.sql.types import StringType, StructField, StructType

    if not isinstance(schema, StructType):
        raise TypeError("split_jsonl_lines needs an explicit StructType "
                        "(inference would re-scan the corpus)")
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"schema must not already contain {corrupt_col!r}")
    # a fresh StructType: StructType.add mutates self, and the caller's
    # schema object must come back unchanged
    full = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
    )
    parsed = lines.select(
        F.col(line_col).alias("__line"),
        F.from_json(
            line_col, full, {"mode": "PERMISSIVE",
                             "columnNameOfCorruptRecord": corrupt_col}
        ).alias("__j"),
    )
    bad = F.col("__j").getField(corrupt_col).isNotNull() | F.col("__j").isNull()
    clean = parsed.filter(~bad).select(
        *[F.col("__j").getField(f.name).alias(f.name) for f in schema.fields]
    )
    quarantined = parsed.filter(bad).select(F.col("__line").alias("raw_line"))
    return clean, quarantined


def read_jsonl_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Landing-zone JSONL ingestion with corrupt-record quarantine --
    the standard shape of a raw LLM training feed (one JSON doc per
    line, a tail of malformed lines from upstream crawlers that must
    be kept for audit, never silently dropped). ``spark.read.text``
    over the path + ``split_jsonl_lines`` (see its docstring for the
    SPARK-21610 rationale); the streaming twin is
    ``streaming.jobs.jsonl_ingest_stream`` over the same splitter."""
    prepare(spark)
    return split_jsonl_lines(spark.read.text(path), schema, corrupt_col)


def split_csv_lines(
    lines: DataFrame,
    schema,
    sep: str = ",",
    line_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Frame-level CSV split, the delimiter-file twin of
    ``split_jsonl_lines``: raw lines in, ``(clean, quarantined)`` out.
    A line is clean iff it has EXACTLY len(schema) fields after
    ``from_csv`` parsing and every declared non-string field casts
    (PERMISSIVE corrupt-record contract -- type drift quarantines,
    never lands as silent nulls). Same one-scan codegen shape as the
    JSONL splitter; no caching, any corpus size."""
    from pyspark.sql.types import StringType, StructField, StructType

    if not isinstance(schema, StructType):
        raise TypeError("split_csv_lines needs an explicit StructType "
                        "(inference would re-scan the corpus)")
    corrupt_col = "_corrupt_record"
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"schema must not already contain {corrupt_col!r}")
    full = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
    )
    parsed = lines.select(
        F.col(line_col).alias("__line"),
        F.from_csv(
            line_col,
            F.lit(full.simpleString()),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col,
             "sep": sep},
        ).alias("__c"),
    )
    # from_csv under-reports corruption for SHORT rows (missing fields
    # parse as nulls): also quarantine any line whose raw separator
    # count differs from the declared arity. The raw count does NOT
    # respect quoting, so a correctly-quoted field containing the
    # separator quarantines CONSERVATIVELY -- this splitter targets
    # the unquoted machine-generated landing-zone shape; audit the
    # quarantine for quoted rows rather than silently accepting arity
    # drift.
    n_seps = F.size(F.split(F.col("__line"), F.lit(re.escape(sep)), -1)) - 1
    bad = (
        F.col("__c").getField(corrupt_col).isNotNull()
        | F.col("__c").isNull()
        | (n_seps != len(schema.fields) - 1)
    )
    clean = parsed.filter(~bad).select(
        *[F.col("__c").getField(f.name).alias(f.name) for f in schema.fields]
    )
    quarantined = parsed.filter(bad).select(F.col("__line").alias("raw_line"))
    return clean, quarantined


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    sep: str = ",",
    header: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Landing-zone CSV ingestion with corrupt-record quarantine:
    ``spark.read.text`` + ``split_csv_lines`` so malformed and
    arity-drifted lines are KEPT verbatim for audit (the stock csv
    reader's DROPMALFORMED silently discards them; its PERMISSIVE
    mode hits the same corrupt-column pruning restriction as JSON).
    ``header=True`` drops lines equal to the schema's header row --
    exact-match, so a data row that happens to equal the header is
    indistinguishable and also dropped (documented contract)."""
    prepare(spark)
    lines = spark.read.text(path)
    if header:
        head = sep.join(f.name for f in schema.fields)
        lines = lines.filter(F.col("value") != head)
    return split_csv_lines(lines, schema, sep)
