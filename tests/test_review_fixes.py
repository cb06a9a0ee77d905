"""Regression pins for the code-review findings on build/ and catalog/."""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_auto_dw_spark.build.builder import assemble_business_keys, build_and_load
from pg_auto_dw_spark.build.ddl import hub_schema, satellite_schemas, spark_type_for
from pg_auto_dw_spark.build.loader import load_satellite
from pg_auto_dw_spark.build.spec import business_key_from_spec, dv_schema_from_spec
from pg_auto_dw_spark.sources import load_table
from pg_auto_dw_spark.warehouse import Warehouse

LOAD_TS = datetime.datetime(2024, 6, 1)


def test_spark_type_for_covers_spark_ddl_names(spark):
    # simple names resolve without a session; complex types go through
    # DataType.fromDDL (needs the active session the real flow has)
    assert spark_type_for("float") == T.FloatType()
    assert spark_type_for("tinyint") == T.ByteType()
    assert spark_type_for("binary") == T.BinaryType()
    assert spark_type_for("array<float>") == T.ArrayType(T.FloatType())
    assert spark_type_for("map<string,int>") == T.MapType(T.StringType(), T.IntegerType())
    assert spark_type_for("varchar(10)") == T.StringType()
    assert spark_type_for("numeric(3,2)") == T.DecimalType(3, 2)
    with pytest.raises(ValueError, match=r"'no_such_type' of column 'c'"):
        spark_type_for("no_such_type", "c")


def test_unknown_descriptor_type_fails_the_satellite_schema(spark):
    """A type name no mapping parses names itself and its column instead
    of declaring the satellite column as string."""
    bk = business_key_from_spec(
        "main", "t", "t", [("id", "bigint")], [("geom", "geometry_blob", False)]
    )
    with pytest.raises(ValueError, match=r"'geometry_blob' of column 'geom'"):
        satellite_schemas(bk)


def test_float_descriptor_satellite_roundtrips(spark, warehouse_dir, sf_dir):
    """A float/array descriptor must get a real type in the satellite
    schema so the second read doesn't crash on parquet type mismatch."""
    emb = load_table(spark, sf_dir, "embeddings")
    bk = business_key_from_spec(
        "main", "embeddings", "embedding",
        [("vec_id", "bigint")],
        [("label", "int", False), ("embedding", "array<float>", False)],
    )
    schemas = satellite_schemas(bk)
    field_types = {f.name: f.dataType for f in schemas["sat_embeddings"].fields}
    assert field_types["embedding"] == T.ArrayType(T.FloatType())

    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("dw.hub_embedding", hub_schema(bk))
    for name, schema in schemas.items():
        wh.create_table(f"dw.{name}", schema)
    n = load_satellite(wh, emb, bk, "embeddings", load_ts=LOAD_TS)
    assert n == emb.count()
    # second load reads the table back -- crashes if types were corrupted
    assert load_satellite(wh, emb, bk, "embeddings", load_ts=LOAD_TS) == 0


def test_duplicate_bk_names_fail_loudly(spark, warehouse_dir, sf_dir):
    bk1 = business_key_from_spec("main", "customer", "customer", [("c_custkey", "bigint")], [])
    bk2 = business_key_from_spec("main", "orders", "customer", [("o_custkey", "bigint")], [])
    dv = dv_schema_from_spec("dw", [bk1, bk2])
    wh = Warehouse(spark, warehouse_dir)
    with pytest.raises(ValueError, match="multi-source"):
        build_and_load(wh, lambda s, t: None, dv)


def test_satellite_within_batch_dedup(spark, warehouse_dir, sf_dir):
    """Identical duplicate source rows produce ONE satellite row."""
    src = load_table(spark, sf_dir, "customer").limit(20)
    doubled = src.unionByName(src)
    bk = business_key_from_spec(
        "main", "customer", "customer", [("c_custkey", "bigint")],
        [("c_name", "text", False)],
    )
    wh = Warehouse(spark, warehouse_dir)
    for name, schema in satellite_schemas(bk).items():
        wh.create_table(f"dw.{name}", schema)
    assert load_satellite(wh, doubled, bk, "customer", load_ts=LOAD_TS) == 20


def test_assemble_tolerates_null_rows():
    rows = [
        {
            "table_oid": 10, "schema_name": "s", "table_name": "t",
            "column_category": "Business Key Part", "business_key_name": None,
            "column_name": "id", "column_type_name": "bigint",
            "system_id": 1, "column_ordinal_position": 1,
        },
        {  # dangling join row
            "table_oid": None, "schema_name": None, "table_name": None,
            "column_category": None, "business_key_name": None,
            "column_name": None, "column_type_name": None,
            "system_id": 1, "column_ordinal_position": None,
        },
    ]
    bks = assemble_business_keys(rows)
    assert len(bks) == 1
    assert bks[0].name == ""  # NULL bk name -> empty, no crash


def test_schema_level_context_description(spark, sf_dir, tmp_path):
    from pg_auto_dw_spark.api import AutoDW
    from pg_auto_dw_spark.catalog.registry import testdata_registry

    adw = AutoDW(
        spark, str(tmp_path / "wh"), registry=testdata_registry(),
        clock=lambda: datetime.datetime(2024, 6, 1),
    )
    adw.register_source("main", "customer", load_table(spark, sf_dir, "customer"))
    adw.update_context("main", {"description": "main warehouse schema"})
    adw.source_include("main", "customer")
    so = adw.wh.read("auto_dw.source_objects")
    descs = {r["schema_description"] for r in so.select("schema_description").collect()}
    assert descs == {"main warehouse schema"}


# ---------------------------------------------------------------------------
# Round-5 session review pins (warehouse retention/transactions, merge
# verbs, schema evolution)
# ---------------------------------------------------------------------------

_KV = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])


def _kv(spark, tag, n=4):
    return spark.createDataFrame([(i, f"{tag}{i}") for i in range(n)], _KV)


def test_retention_survives_default_reopen(spark, tmp_path):
    """A read-only open with the default retention must NOT GC the
    snapshots a previous owner configured to keep."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, retain_generations=3)
    wh.create_table("m.t", _KV)
    for tag in "abc":
        wh.overwrite("m.t", _kv(spark, tag))
    avail_before = sum(1 for h in wh.history("m.t") if h["available"])
    ro = Warehouse(spark, root)  # monitoring open, no knob passed
    assert ro.retain_generations == 3  # inherited from the sidecar meta
    assert sum(1 for h in ro.history("m.t") if h["available"]) == avail_before
    # the owner can still time travel
    assert {r["v"] for r in wh.read_version("m.t", 1).collect()} == {f"a{i}" for i in range(4)}


def test_transaction_writes_to_same_table_compose(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("m.t", _KV)
    wh.overwrite("m.t", _kv(spark, "base"))
    with wh.transaction(["m.t"]) as txn:
        txn.append("m.t", _kv(spark, "x", n=1))
        txn.append("m.t", _kv(spark, "y", n=1))  # must keep x0 too
    got = {r["v"] for r in wh.read("m.t").collect()}
    assert got == {f"base{i}" for i in range(4)} | {"x0", "y0"}
    with wh.transaction(["m.t"]) as txn:
        txn.overwrite("m.t", _kv(spark, "o", n=2))
        txn.append("m.t", _kv(spark, "z", n=1))  # builds on the staged overwrite
    assert {r["v"] for r in wh.read("m.t").collect()} == {"o0", "o1", "z0"}


def test_evolve_schema_blocks_dropped_readd_with_new_type(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("m.t", _KV)
    wh.append("m.t", _kv(spark, "a"))
    wh.evolve_schema("m.t", drop=["v"])
    with pytest.raises(ValueError, match="previously dropped with type"):
        wh.evolve_schema("m.t", add=[T.StructField("v", T.LongType())])
    # the guard survives a fresh open (ledger persisted)
    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="previously dropped with type"):
        wh2.evolve_schema("m.t", add=[T.StructField("v", T.LongType())])
    # same-type re-add is allowed and resurfaces the old values
    wh2.evolve_schema("m.t", add=[T.StructField("v", T.StringType())])
    assert {r["v"] for r in wh2.read("m.t").collect()} == {f"a{i}" for i in range(4)}


def test_delete_keys_bucket_fn_type_mismatch_fails_safe(spark, tmp_path):
    """A bucket_of whose values never match the partition dirs must NOT
    silently skip victims -- it falls back to range-only pruning."""
    from pg_auto_dw_spark.build.merge import delete_keys

    schema = T.StructType(_KV.fields + [T.StructField("b", T.LongType())])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("m.t", schema, partition_by=["b"])
    wh.append(
        "m.t",
        spark.createDataFrame([(i, f"x{i}", i % 2) for i in range(20)], schema),
    )
    victims = spark.createDataFrame([(7,)], "k long")
    # bucket_of returns strings that match no 'b=0'/'b=1' dir value
    stats = delete_keys(wh, "m.t", victims, "k", bucket_of=lambda k: f"bucket_{k % 2}")
    assert stats["rows_deleted"] == 1
    assert {r["k"] for r in wh.read("m.t").collect()} == set(range(20)) - {7}
    # and an int bucket_of meets the int-valued dirs (pruning engages)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    wh2.create_table("m.t", schema, partition_by=["b"])
    wh2.append(
        "m.t",
        spark.createDataFrame([(i, f"x{i}", i % 2) for i in range(20)], schema),
    )
    n_b1 = len([r for r in wh2.data_files("m.t") if r.startswith("b=1")])
    stats2 = delete_keys(wh2, "m.t", victims, "k", bucket_of=lambda k: k % 2)
    assert stats2["rows_deleted"] == 1
    assert stats2["files_rewritten"] <= n_b1


def test_history_marks_single_live_version_after_rollback(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), retain_generations=3)
    wh.create_table("m.t", _KV)
    wh.overwrite("m.t", _kv(spark, "good"))
    wh.overwrite("m.t", _kv(spark, "bad"))
    wh.rollback("m.t", 1)
    hist = wh.history("m.t")
    live = [h for h in hist if h["live"]]
    assert len(live) == 1
    assert live[0]["version"] == hist[-1]["version"]  # the rollback commit itself


def test_merge_upsert_verify_partition_contract(spark, tmp_path):
    from pg_auto_dw_spark.build.merge import merge_upsert

    schema = T.StructType(_KV.fields + [T.StructField("b", T.LongType())])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("m.t", schema, partition_by=["b"])
    wh.append(
        "m.t", spark.createDataFrame([(i, f"x{i}", i % 2) for i in range(6)], schema)
    )
    # key 1 currently lives in b=1; a batch claiming it in b=0 violates
    bad = spark.createDataFrame([(1, "NEW", 0)], schema)
    with pytest.raises(ValueError, match="partition contract violated"):
        merge_upsert(wh, "m.t", bad, ["k"], verify_partition_contract=True)
    ok = spark.createDataFrame([(1, "NEW", 1)], schema)
    stats = merge_upsert(wh, "m.t", ok, ["k"], verify_partition_contract=True)
    assert stats["matched"] == 1 and stats["inserted"] == 0
