"""The append contract the one-job loads rest on: ``append`` returns the
rows it wrote (observed on the write itself), a 0-row append leaves no
trace, driver-written rows (``append_rows``) read back exactly as
Spark-written ones, and the footer reads (``row_count``,
``max_value``) agree with the data or fail loudly."""

import ast
import datetime
import decimal
import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_auto_dw_spark.build.builder import load_business_key
from pg_auto_dw_spark.warehouse import Warehouse
from tests.test_end_to_end import LOAD_TS, make_autodw
from tests.test_loader import _setup

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType(), False), T.StructField("s", T.StringType())]
)


def _frame(spark, ids):
    return spark.createDataFrame([(i, f"v{i}") for i in ids], SCHEMA)


def _state(wh, name):
    return wh.data_files(name), wh.history(name)


def test_append_returns_observed_count(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("m.t", SCHEMA)
    df = spark.range(37).select("id", F.col("id").cast("string").alias("s")).repartition(5)
    assert wh.append("m.t", df) == 37
    assert wh.append("m.t", df.filter("id < 3")) == 3
    assert wh.append_rows("m.t", [(100, "x"), (101, None)]) == 2
    assert wh.read("m.t").count() == 42 == wh.row_count("m.t")

    pschema = T.StructType(SCHEMA.fields + [T.StructField("p", T.IntegerType())])
    wh.create_table("m.p", pschema, partition_by=["p"])
    assert wh.append("m.p", df.withColumn("p", (F.col("id") % 3).cast("int"))) == 37
    assert wh.read("m.p").count() == 37 == wh.row_count("m.p")


@pytest.mark.parametrize("mode", ["in_place", "retained", "transaction"])
def test_zero_row_append_leaves_no_trace(spark, warehouse_dir, mode):
    wh = Warehouse(spark, warehouse_dir, retain_generations=3 if mode == "retained" else 1)
    wh.create_table("m.t", SCHEMA)
    wh.append("m.t", _frame(spark, range(4)))
    before = _state(wh, "m.t")
    empty = _frame(spark, range(4)).filter("id < 0")
    if mode == "transaction":
        with wh.transaction(["m.t"]) as txn:
            counts = (txn.append("m.t", empty), txn.append_rows("m.t", []))
    else:
        counts = (wh.append("m.t", empty), wh.append_rows("m.t", []))
    assert counts == (0, 0)
    assert _state(wh, "m.t") == before
    assert wh.read("m.t").count() == 4


def test_atomic_rerun_commits_nothing_and_returns_ints(spark, warehouse_dir, sf_dir):
    wh, bk, source = _setup(spark, warehouse_dir, sf_dir)
    first = load_business_key(wh, source, bk, load_ts=LOAD_TS)
    tables = [f"dw.{t}" for t in first]
    before = {t: _state(wh, t) for t in tables}
    again = load_business_key(wh, source, bk, load_ts=LOAD_TS)
    assert first["hub_customer"] == wh.row_count("dw.hub_customer")
    assert set(again.values()) == {0}
    assert all(type(n) is int for n in [*first.values(), *again.values()])
    assert {t: _state(wh, t) for t in tables} == before


def test_push_table_rerun_appends_nothing(spark, warehouse_dir, sf_dir):
    adw = make_autodw(spark, warehouse_dir, sf_dir)
    adw.source_include("main", "customer")
    adw.classify_pending()
    adw.go(load_ts=LOAD_TS)
    dv = adw.latest_dv_schema()
    bk = dv.business_keys[0]
    tables = [f"{dv.dw_schema}.hub_{bk.name}"] + [
        f"{dv.dw_schema}.sat_{k}" for k in bk.satellites()
    ]
    delta = adw.resolve_source("main", "customer").withColumn(
        "c_custkey", F.col("c_custkey") + 1_000_000
    )
    adw.register_source("main", "customer", delta)
    assert "hub +150" in adw.go("Push-Table", "main.customer", load_ts=LOAD_TS)
    files = {t: adw.wh.data_files(t) for t in tables}

    msg = adw.go("Push-Table", "main.customer", load_ts=LOAD_TS)
    m = re.search(r"hub \+(\d+), sats (\{.*\})", msg)
    assert int(m.group(1)) == 0
    sats = ast.literal_eval(m.group(2))
    assert sats and set(sats.values()) == {0}
    assert {t: adw.wh.data_files(t) for t in tables} == files


PARITY_SCHEMA = T.StructType(
    [
        T.StructField("pk", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("d", T.DecimalType(3, 2), True),
        T.StructField("s", T.StringType(), True),
    ]
)


def test_append_rows_matches_create_dataframe(spark, warehouse_dir, monkeypatch):
    """Naive datetimes are local-zone instants on both paths, including
    one inside the spring-forward gap and one in the autumn fold."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [
            (1, datetime.datetime(2024, 3, 10, 2, 30), decimal.Decimal("0.95"), "gap"),
            (2, datetime.datetime(2024, 11, 3, 1, 30), decimal.Decimal("1.00"), "fold"),
            (3, datetime.datetime(2024, 6, 1, 12, 0, 0, 123456), decimal.Decimal("-9.99"), ""),
            (4, None, None, None),
        ]
        wh = Warehouse(spark, warehouse_dir)
        for name in ("m.driver", "m.spark"):
            wh.create_table(name, PARITY_SCHEMA)
        assert wh.append_rows("m.driver", rows) == 4
        assert wh.append("m.spark", spark.createDataFrame(rows, PARITY_SCHEMA)) == 4

        def read(name):
            df = wh.read(name).select("pk", F.unix_micros("ts").alias("us"), "d", "s")
            return df.orderBy("pk").collect()

        assert read("m.driver") == read("m.spark")
    finally:
        monkeypatch.undo()
        time.tzset()


def test_footer_reads_over_mixed_files(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("m.t", SCHEMA)  # leaves one zero-row part file
    assert wh.row_count("m.t") == 0
    assert wh.max_value("m.t", "id") is None
    wh.append("m.t", _frame(spark, [5, 9, 2]))
    wh.append_rows("m.t", [(7, None), (11, "x")])
    live = wh.path("m.t")
    rows = [pq.read_metadata(os.path.join(live, f)).num_rows for f in wh.data_files("m.t")]
    assert 0 in rows and sum(rows) == 5
    assert wh.row_count("m.t") == 5 == wh.read("m.t").count()
    assert wh.max_value("m.t", "id") == 11 == wh.read("m.t").agg(F.max("id")).first()[0]


def test_max_value_raises_without_statistics(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("m.t", SCHEMA)
    wh.append_rows("m.t", [(1, "a")])
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()), "s": ["b"]}),
        os.path.join(wh.path("m.t"), "part-00000-nostats.parquet"),
        write_statistics=False,
    )
    assert wh.row_count("m.t") == 2
    with pytest.raises(ValueError, match="statistics"):
        wh.max_value("m.t", "id")
