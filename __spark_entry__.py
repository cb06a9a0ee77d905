"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship flow: build + incrementally load a
Data Vault hub/satellite pair from the ``customer`` table (the
reference's core capability, SURVEY.md section 3.1) and return the hub.

``queries()`` / ``oracle_sql()`` expose each implemented operator from
SURVEY.md section 2 with a DuckDB-equivalent oracle; the driver
hash-compares them at sf0.01.

Conventions for oracle parity (see pg_auto_dw_spark/functions/hashing.py):
- doubles render through DECIMAL(38,2) before hashing/concat (Spark's
  double->string uses scientific notation, DuckDB's doesn't);
- load_ts is emitted as a string column (year-0001 ghost timestamps
  don't survive pandas conversion);
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import datetime
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pg_auto_dw_spark import queries_catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: DV build+load on sf0.001 customer; returns the hub."""
    from pg_auto_dw_spark.build.builder import load_business_key
    from pg_auto_dw_spark.build.ddl import hub_schema, satellite_schemas
    from pg_auto_dw_spark.queries_catalog import customer_business_key
    from pg_auto_dw_spark.session import prepare
    from pg_auto_dw_spark.sources import load_table
    from pg_auto_dw_spark.warehouse import Warehouse

    prepare(spark)
    sf_dir = "/root/testdata/sf0.001"
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="autodw_entry_"))
    bk = customer_business_key()
    wh.create_table("dw.hub_customer", hub_schema(bk))
    for name, schema in satellite_schemas(bk).items():
        wh.create_table(f"dw.{name}", schema)
    source = load_table(spark, sf_dir, "customer")
    load_ts = datetime.datetime(2024, 6, 1)
    load_business_key(wh, source, bk, load_ts=load_ts)
    hub = wh.read("dw.hub_customer")
    # The driver collect()s this result; year-0001 ghost load_ts does not
    # fit in Python datetime / Arrow ns timestamps, so emit it as text.
    from pyspark.sql import functions as F

    return hub.withColumn("load_ts", F.date_format("load_ts", "yyyy-MM-dd HH:mm:ss"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return queries_catalog.queries()


def oracle_sql() -> dict[str, str]:
    return queries_catalog.oracle_sql()
