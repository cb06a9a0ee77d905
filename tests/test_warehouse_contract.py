"""The Warehouse storage contract an ACID-table-format port must
re-implement (SCALE.md "Warehouse -> ACID table format swap path").
Pins the operation surface and the semantics callers rely on, so a
Delta/Iceberg-backed Warehouse is a drop-in file, not a refactor."""

import inspect

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_auto_dw_spark.warehouse import Warehouse

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("b", T.LongType()),
    ]
)


def test_contract_surface_exists():
    """The six storage operations + lock: names and required params.
    A format-backed port implements exactly these."""
    for op, required in {
        "create_table": {"name", "schema"},
        "append": {"name", "df"},
        "overwrite": {"name", "df"},
        "overwrite_partitions": {"name", "df"},
        "replace_files": {"name", "df", "drop_files"},
        "read": {"name"},
        "read_files": {"name", "rel_paths"},
        "drop_table": {"name"},
        "exists": {"name"},
        "lock": {"name"},
    }.items():
        fn = getattr(Warehouse, op)
        params = set(inspect.signature(fn).parameters) - {"self"}
        assert required <= params, f"{op} missing {required - params}"


def test_contract_footer_stats_surface():
    """A port also re-implements the one footer-stats read every file-
    pruning path rests on: per-file (min, max) of a column, which a
    table format's manifests already hold."""
    params = set(inspect.signature(Warehouse.file_ranges).parameters)
    assert {"name", "column", "dirs"} <= params


def test_contract_semantics_roundtrip(spark, warehouse_dir):
    """The behavioral contract: registered partition spec survives
    reopen; append/overwrite/overwrite_partitions compose; reads see
    exactly the committed state at every step (the invariant an ACID
    format keeps via its log, the parquet Warehouse via pointer
    commit)."""
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("c.t", SCHEMA, partition_by=["b"])
    rows = spark.createDataFrame([(i, f"v{i}", i % 2) for i in range(6)], SCHEMA)
    wh.append("c.t", rows)
    assert wh.read("c.t").count() == 6

    # partition-granular replace touches only partition b=1
    batch = spark.createDataFrame([(9, "nine", 1)], SCHEMA)
    wh.overwrite_partitions("c.t", batch)
    got = {(r["k"], r["b"]) for r in wh.read("c.t").collect()}
    assert got == {(0, 0), (2, 0), (4, 0), (9, 1)}

    # full overwrite replaces everything atomically
    wh.overwrite("c.t", rows.filter(F.col("k") < 2))
    assert wh.read("c.t").count() == 2

    # a REOPENED warehouse (fresh process analog) sees identical state
    # and the registered spec -- the durability half of the contract
    wh2 = Warehouse(spark, warehouse_dir)
    assert wh2.read("c.t").count() == 2
    assert wh2._partitioning["c.t"] == ["b"]
    wh2.drop_table("c.t")
    assert not wh2.exists("c.t")


def test_maybe_compact_triggers_on_small_file_pressure(spark, warehouse_dir):
    from pg_auto_dw_spark.warehouse import Warehouse

    wh = Warehouse(spark, warehouse_dir)
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    wh.create_table("m.t", df.schema)
    # below threshold: noop, nothing rewritten
    wh.append("m.t", df)
    r = wh.maybe_compact("m.t", max_small_files=16)
    assert r["action"] == "noop" and r["health"]["files"] >= 1
    # accrete one-file-per-batch ingest pressure past the threshold
    for i in range(20):
        wh.append("m.t", df.withColumn("k", df.k + (i + 1) * 1000))
    before = wh.table_health("m.t")
    assert before["small_files"] > 16
    r = wh.maybe_compact("m.t", max_small_files=16)
    assert r["action"] == "compacted"
    after = r["health_after"]
    assert after["files"] < before["files"]
    assert after["small_files"] <= 16
    # data intact through the rewrite
    assert wh.read("m.t").count() == 2100


def test_read_arrow_hands_spark_every_row(spark, warehouse_dir):
    """``createDataFrame`` drops an Arrow table's rows after an empty
    chunk, and a created table holds a zero-row part file, so
    ``read_arrow`` must return one chunk."""
    import pyarrow.parquet as pq

    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("c.r", SCHEMA)
    wh.append_rows("c.r", [(1, "a", 0), (2, "b", 0)])
    wh.append_rows("c.r", [(3, "c", 1)])
    wh.append("c.r", spark.createDataFrame([(4, "d", 1)], SCHEMA))
    live = wh.path("c.r")
    sizes = [pq.read_metadata(f"{live}/{rel}").num_rows for rel in wh.data_files("c.r")]
    assert 0 in sizes and len(sizes) >= 4
    got = wh.read_arrow("c.r")
    assert {c.num_chunks for c in got.columns} == {1}
    assert spark.createDataFrame(got).count() == wh.read("c.r").count() == 4
