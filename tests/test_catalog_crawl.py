"""The catalog crawl is a driver-side pass: it runs no Spark job, a
crawl that changes nothing commits nothing, a bad pattern fails before
any read or write, and timestamps survive a merge over Spark-written
files whatever the driver's local time zone."""

import datetime
import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pg_auto_dw_spark.api import AutoDW
from pg_auto_dw_spark.catalog.introspect import SNAPSHOT_SCHEMA, catalog_snapshot
from pg_auto_dw_spark.catalog.registry import SourceRegistry
from pg_auto_dw_spark.catalog.scd2 import (
    SOURCE_OBJECTS_SCHEMA,
    TABLE,
    crawl,
    ensure_table,
)
from pg_auto_dw_spark.warehouse import Warehouse

AS_OF = datetime.datetime(2024, 6, 1, 12, 0)
ZERO = {"deleted": 0, "closed": 0, "resurrected": 0, "inserted": 0}


def _source(spark, ddl):
    return spark.createDataFrame([], ddl)


def _snapshot(spark, tables):
    frames = {("s", name): _source(spark, ddl) for name, ddl in tables.items()}
    return catalog_snapshot(spark, frames, SourceRegistry())


def _wait_for_listener(sc):
    """Job events reach the status store asynchronously, in order: once
    a later job shows up, every earlier one has too. Each call waits on
    its own canary group, so a second call cannot see the first one's."""
    group = f"canary-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "canary job never reached the status store"
        time.sleep(0.05)


def test_crawl_and_include_run_no_spark_job(spark, warehouse_dir):
    adw = AutoDW(spark, warehouse_dir, clock=lambda: AS_OF)
    for i in range(6):
        adw.register_source("s", f"t{i}", _source(spark, "a int, b string, c double"))
    changed = _source(spark, "a bigint, b string")
    sc = spark.sparkContext
    sc.setJobGroup("crawl-no-jobs", "crawl-no-jobs")
    try:
        assert adw.source_include("s") == "Pattern Included"
        assert adw.crawl() == ZERO
        adw.register_source("s", "t0", changed)
        assert adw.crawl() == {"deleted": 1, "closed": 1, "resurrected": 0, "inserted": 1}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _wait_for_listener(sc)
    assert list(sc.statusTracker().getJobIdsForGroup("crawl-no-jobs")) == []
    assert adw.wh.row_count(TABLE) == 19


def test_noop_crawl_commits_nothing(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir, retain_generations=3)
    tables = {"t1": "a int, b string", "t2": "c int"}
    counts = crawl(wh, _snapshot(spark, tables), include=("s", ".*", ".*"), as_of=AS_OF)
    assert counts == {**ZERO, "inserted": 3}
    state = wh.data_files(TABLE), wh.history(TABLE)
    assert crawl(wh, _snapshot(spark, tables), as_of=AS_OF) == ZERO
    assert (wh.data_files(TABLE), wh.history(TABLE)) == state


def test_merge_reads_a_local_snapshot_without_collecting(spark, warehouse_dir, monkeypatch):
    """The frame catalog_snapshot makes is read back from its Arrow
    table; a frame of the same rows from anywhere else is collected,
    and both merges land the same rows."""
    from pyspark.sql.classic.dataframe import DataFrame

    tables = {"t1": "a int, b string", "t2": "c int"}
    local, other = _snapshot(spark, tables), _snapshot(spark, tables).select("*")
    collect = DataFrame.collect

    def no_collect(df):
        raise AssertionError("the merge collected its snapshot")

    monkeypatch.setattr(DataFrame, "collect", no_collect)
    wh_local = Warehouse(spark, os.path.join(warehouse_dir, "local"))
    assert crawl(wh_local, local, include=("s", ".*", ".*"), as_of=AS_OF)["inserted"] == 3
    monkeypatch.setattr(DataFrame, "collect", collect)
    wh_other = Warehouse(spark, os.path.join(warehouse_dir, "other"))
    assert crawl(wh_other, other, include=("s", ".*", ".*"), as_of=AS_OF)["inserted"] == 3
    assert wh_local.read_arrow(TABLE).equals(wh_other.read_arrow(TABLE))


@pytest.mark.parametrize("side", ["include", "exclude"])
def test_bad_pattern_raises_before_any_io(spark, warehouse_dir, side):
    wh = Warehouse(spark, warehouse_dir)
    snap = _snapshot(spark, {"t1": "a int"})
    with pytest.raises(ValueError, match=r"'t\[1'"):
        crawl(wh, snap, **{side: ("s", "t[1", ".*")})
    assert not os.path.exists(wh.path(TABLE))


def _so_row(pk, col, ordinal, typ, valid_from, valid_to, current, deleted):
    return (
        pk, 1, "s", None, 10, "t", "NA", ordinal, col, typ, None, typ, "NA", 0, "NA", 0,
        "N", valid_from, valid_to, current, deleted,
    )


def test_timestamps_round_trip_over_spark_written_rows(spark, warehouse_dir, monkeypatch):
    """Spark writes INT96 (the UTC instant, no zone); the driver pass
    must carry those rows through unshifted and stamp new values exactly
    as ``F.lit(as_of).cast("timestamp")`` does, also for an ``as_of``
    inside New York's spring-forward gap."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        jan, feb = datetime.datetime(2024, 1, 15, 8, 0), datetime.datetime(2024, 2, 1, 23, 30)
        gap = datetime.datetime(2024, 3, 10, 2, 30)
        wh = Warehouse(spark, warehouse_dir)
        ensure_table(wh)
        seed = [
            _so_row(1, "a", 1, "int", jan, None, "Y", "N"),  # unchanged
            _so_row(2, "b", 2, "int", jan, None, "Y", "N"),  # closed + re-inserted
            _so_row(3, "c", 3, "int", jan, feb, "Y", "Y"),  # resurrected
            _so_row(4, "b", 2, "smallint", jan, feb, "N", "N"),  # history
        ]
        wh.append(TABLE, spark.createDataFrame(seed, SOURCE_OBJECTS_SCHEMA))
        live = wh.path(TABLE)
        files = [pq.read_metadata(os.path.join(live, f)) for f in wh.data_files(TABLE)]
        assert {md.schema.column(17).physical_type for md in files} == {"INT96"}

        def stamps():
            df = wh.read(TABLE).select(
                "pk_source_objects", F.unix_micros("valid_from"), F.unix_micros("valid_to")
            )
            return {r[0]: (r[1], r[2]) for r in df.collect()}

        before = stamps()
        retyped = _so_row(0, "b", 2, "text", None, None, "Y", "N")
        snap = spark.createDataFrame([r[1:16] for r in (seed[0], retyped, seed[2])], SNAPSHOT_SCHEMA)
        counts = crawl(wh, snap, include=("^s$", "^t$", "^c$"), as_of=gap)
        assert counts == {"deleted": 0, "closed": 1, "resurrected": 1, "inserted": 1}
        after = stamps()
        want = spark.range(1).select(F.unix_micros(F.lit(gap).cast("timestamp"))).first()[0]
        assert after[1] == before[1] and after[3] == before[3] and after[4] == before[4]
        assert after[2] == (before[2][0], want)
        assert after[5] == (want, None)
    finally:
        monkeypatch.undo()
        time.tzset()
