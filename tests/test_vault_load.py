"""The one Data Vault load path: go('Push-Table') loads a business key's
hub and satellites in one transaction, in one Spark job when the delta
stages on the driver and three per leg when the legs run in Spark, lets
the ghost records own their keys, and go() numbers build_call from the
ready set it collected once."""

import ast
import re
import uuid

import pytest
from pyspark.sql import functions as F

import pg_auto_dw_spark.build.builder as builder
from pg_auto_dw_spark.build import loader
from pg_auto_dw_spark.build.builder import load_business_key
from pg_auto_dw_spark.build.loader import GHOST_RECORD_SOURCE
from tests.test_catalog_crawl import _wait_for_listener
from tests.test_end_to_end import LOAD_TS, make_autodw
from tests.test_loader import _setup

# Spark jobs one go('Push-Table') of the customer delta runs untraced,
# the deployed DVSchema already cached. Driver regime: the one staging
# read; every anti-join and append runs on the driver.
PUSH_TABLE_JOBS = 1
# Spark regime (the staged-row bound one row under the source's
# parquet footers, so no staging read): per leg -- hub and two
# satellites -- the broadcast of the target's key columns, the dedup
# exchange and the write.
PUSH_TABLE_SPARK_JOBS = 9


def _deployed(spark, warehouse_dir, sf_dir):
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
    return adw, tables


def _counts(msg):
    m = re.search(r"hub \+(\d+), sats (\{.*\})", msg)
    return int(m.group(1)), ast.literal_eval(m.group(2))


def test_push_table_satellite_failure_leaves_hub_untouched(
    spark, warehouse_dir, sf_dir, monkeypatch
):
    adw, tables = _deployed(spark, warehouse_dir, sf_dir)
    before = {t: adw.wh.data_files(t) for t in tables}

    def boom(*a, **k):
        raise RuntimeError("satellite leg failed")

    monkeypatch.setattr(builder, "load_satellite", boom)
    with pytest.raises(RuntimeError, match="satellite leg failed"):
        adw.go("Push-Table", "main.customer", load_ts=LOAD_TS)
    monkeypatch.undo()
    # the hub leg ran before the failure, yet no table changed
    assert {t: adw.wh.data_files(t) for t in tables} == before

    n_hub, sats = _counts(adw.go("Push-Table", "main.customer", load_ts=LOAD_TS))
    assert n_hub == 150
    assert sats and set(sats.values()) == {150}


def _push_jobs(spark, adw):
    """(Push-Table message, Spark jobs it ran) for the customer delta.
    The status tracker keeps a group's jobs across calls, so each call
    gets its own group."""
    sc = spark.sparkContext
    group = f"push-table-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        msg = adw.go("Push-Table", "main.customer", load_ts=LOAD_TS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _wait_for_listener(sc)
    return msg, len(sc.statusTracker().getJobIdsForGroup(group))


def test_push_table_job_count(spark, warehouse_dir, sf_dir):
    adw, _ = _deployed(spark, warehouse_dir, sf_dir)
    msg, jobs = _push_jobs(spark, adw)
    assert _counts(msg)[0] == 150
    assert jobs == PUSH_TABLE_JOBS


def test_push_table_spark_regime_job_count(spark, warehouse_dir, sf_dir, monkeypatch):
    adw, _ = _deployed(spark, warehouse_dir, sf_dir)
    monkeypatch.setattr(loader, "STAGE_DRIVER_ROWS", 149)
    msg, jobs = _push_jobs(spark, adw)
    assert _counts(msg)[0] == 150
    assert jobs == PUSH_TABLE_SPARK_JOBS


@pytest.mark.parametrize("bound", [loader.STAGE_DRIVER_ROWS, 149], ids=["driver", "spark"])
def test_dry_run_counts_distinct_keys(spark, warehouse_dir, sf_dir, monkeypatch, bound):
    """DryRun counts the distinct hub keys of a source whose every row
    is doubled, from the staging read or -- its 150-row footer over the
    bound -- from the Spark hub stage."""
    adw = make_autodw(spark, warehouse_dir, sf_dir)
    adw.source_include("main", "customer")
    adw.classify_pending()
    source = adw.resolve_source("main", "customer")
    adw.register_source("main", "customer", source.unionByName(source))
    monkeypatch.setattr(loader, "STAGE_DRIVER_ROWS", bound)
    dry = adw.go("DryRun")
    assert dry.startswith("DryRun | 1 business key(s); hub_customer: 150 keys staged\n")


def test_ghost_records_own_their_keys(spark, warehouse_dir, sf_dir):
    """A source key rendering as '-1' hashes to the ghost's key: inside
    the load transaction the anti-join reads a hub without the ghosts,
    so the first load must still append that key only once."""
    wh, bk, source = _setup(spark, warehouse_dir, sf_dir)
    with_sentinel = source.withColumn(
        "c_custkey", F.when(F.col("c_custkey") == 1, -1).otherwise(F.col("c_custkey"))
    )
    counts = load_business_key(wh, with_sentinel, bk, load_ts=LOAD_TS)
    hub = wh.read("dw.hub_customer")
    n = source.count()
    assert counts["hub_customer"] == n + 1  # two ghosts, every key but '-1'
    assert hub.count() == hub.select("hub_customer_hk").distinct().count() == n + 1
    ghost = hub.filter(F.col("c_custkey_bk") == "-1").select("record_source").collect()
    assert [r["record_source"] for r in ghost] == [GHOST_RECORD_SOURCE]


def test_go_numbers_build_call_from_its_ready_set(spark, warehouse_dir, sf_dir):
    adw = make_autodw(spark, warehouse_dir, sf_dir)
    adw.source_include("main", "customer")
    adw.classify_pending()
    dry = adw.go("DryRun")
    assert dry.startswith("DryRun | 1 business key(s); hub_customer: 150 keys staged\n")
    assert adw.wh.row_count("auto_dw.build_call") == 0
    adw.go(load_ts=LOAD_TS)
    adw.source_include("main", "supplier")
    adw.classify_pending()
    adw.go(load_ts=LOAD_TS)
    rows = adw.wh.read("auto_dw.build_call").orderBy("pk_build_call").collect()
    assert [r["pk_build_call"] for r in rows] == list(range(1, len(rows) + 1))
    builds = [r["build_id"] for r in rows]
    runs = [b for i, b in enumerate(builds) if i == 0 or b != builds[i - 1]]
    assert len(runs) == len(set(runs)) == 2  # each build's pks are contiguous
    for b in set(builds):
        fks = [r["fk_transformer_responses"] for r in rows if r["build_id"] == b]
        assert fks == sorted(fks)
    assert {(r["build_flag"], r["build_status"]) for r in rows} == {("Build", "RTD")}
    assert {r["created_at"] for r in rows} == {adw._clock()}
