"""Structured Streaming jobs: availableNow rollup, streaming hub load
idempotency across restarts, and the polling worker loop."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_auto_dw_spark.sources import load_table
from pg_auto_dw_spark.streaming.jobs import (
    events_stream_rollup,
    incremental_hub_stream,
    incremental_satellite_stream,
    run_polling_worker,
)


def test_polling_worker_runs_and_sleeps():
    ticks = []
    slept = []
    run_polling_worker(lambda: ticks.append(1), iterations=3, sleep=slept.append)
    assert len(ticks) == 3
    assert slept == [10.0, 10.0]


def test_events_stream_rollup_matches_batch(spark, sf_dir, tmp_path):
    # file stream sources require a directory
    import shutil

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events_dir / "part-0.parquet")
    q = events_stream_rollup(
        spark,
        str(events_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    batch = load_table(spark, sf_dir, "events").groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # append mode emits only windows closed by the watermark; every
    # emitted window must match the batch rollup exactly
    j = out.join(batch, ["window_start", "event_type"], "inner")
    assert out.count() > 0
    assert (
        j.filter(out["n_events"] != batch["n_events"]).count() == 0
    )
    assert j.count() == out.count()


def test_incremental_hub_stream_exactly_once(spark, sf_dir, tmp_path):
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    customer = load_table(spark, sf_dir, "customer")
    customer.write.parquet(src)
    n = customer.count()

    kwargs = dict(
        source_schema=schema,
        key_cols=["c_custkey"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
        output_dir=str(tmp_path / "hub"),
    )
    q = incremental_hub_stream(spark, src, **kwargs)
    q.awaitTermination(120)
    hub = spark.read.parquet(str(tmp_path / "hub"))
    assert hub.count() == n
    assert hub.select("hub_hk").distinct().count() == n

    # restart with the same checkpoint: nothing new -> no duplicates
    q2 = incremental_hub_stream(spark, src, **kwargs)
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "hub")).count() == n


def test_incremental_satellite_stream_versions(spark, sf_dir, tmp_path):
    """Unchanged rows dedupe across restarts; changed descriptors create
    a second version row."""
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    src_dir = str(tmp_path / "src")
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    base.write.parquet(src_dir)
    n = base.count()
    kwargs = dict(
        source_schema=schema,
        key_cols=["c_custkey"],
        descriptor_cols=["c_name", "c_mktsegment"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "sat"),
    )
    q = incremental_satellite_stream(spark, src_dir, **kwargs)
    q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "sat")).count() == n

    # re-deliver the same rows plus changed descriptors for every 10th key
    changed = base.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("MOVED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    changed.write.mode("append").parquet(src_dir)
    q2 = incremental_satellite_stream(spark, src_dir, **kwargs)
    q2.awaitTermination(120)
    n_changed = base.filter(F.col("c_custkey") % 10 == 0).count()
    assert spark.read.parquet(str(tmp_path / "sat")).count() == n + n_changed


def test_polling_workers_drive_crawl_and_classify(spark, sf_dir, tmp_path):
    """The two reference background workers as polling jobs: crawl then
    classify on a cadence; second iteration is a no-op (idempotent)."""
    import datetime

    from pg_auto_dw_spark.api import AutoDW
    from pg_auto_dw_spark.catalog.registry import testdata_registry

    adw = AutoDW(
        spark,
        str(tmp_path / "wh"),
        registry=testdata_registry(),
        clock=lambda: datetime.datetime(2024, 6, 1),
    )
    adw.register_source("main", "customer", load_table(spark, sf_dir, "customer"))
    adw.source_include("main", "customer")

    classified = run_polling_worker(
        lambda: (adw.crawl(), adw.classify_pending()), iterations=2, sleep=lambda s: None
    )
    assert classified[0][1] == 5   # first pass classifies all columns
    assert classified[1][1] == 0   # second pass: nothing pending


def test_stream_and_batch_hashes_agree(spark, sf_dir, tmp_path):
    """The streaming satellite must produce the same hub/descriptor
    hashes as the batch loader for the same rows -- including a double
    column whose rendering would diverge under a naive string cast."""
    import datetime

    from pg_auto_dw_spark.build.loader import satellite_stage_df
    from pg_auto_dw_spark.build.spec import business_key_from_spec

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    # force a value >= 1e7 so scientific-notation divergence would show
    base = base.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 2e7).otherwise(
            F.col("c_acctbal")
        ),
    )
    src_dir = str(tmp_path / "src")
    base.write.parquet(src_dir)

    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    q = incremental_satellite_stream(
        spark,
        src_dir,
        source_schema=schema,
        key_cols=["c_custkey"],
        descriptor_cols=["c_acctbal"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "sat"),
    )
    q.awaitTermination(120)
    stream_hashes = {
        (r["hub_hk"], r["sat_hd"])
        for r in spark.read.parquet(str(tmp_path / "sat")).collect()
    }

    bk = business_key_from_spec(
        "main", "customer", "customer",
        [("c_custkey", "bigint")], [("c_acctbal", "double precision", False)],
    )
    batch = satellite_stage_df(base, bk, "customer", load_ts=datetime.datetime(2024, 6, 1))
    batch_hashes = {
        (r["hub_customer_hk"], r["sat_customer_hd"]) for r in batch.collect()
    }
    assert stream_hashes == batch_hashes


def test_stream_and_batch_hub_render_keys_alike(spark, tmp_path):
    """The streaming hub writes each ``_bk`` column as the batch hub
    does (``value::TEXT``): a double key >= 1e7 in plain notation with
    two decimals, a timestamp key with microseconds -- not Spark's raw
    string cast ('1.23456785E7', no fraction)."""
    import datetime
    import random

    from pg_auto_dw_spark.build.loader import hub_stage_df
    from pg_auto_dw_spark.build.spec import business_key_from_spec

    rng = random.Random(7)
    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    rows = [(12345678.5, t0)] + [
        (
            round(rng.uniform(-1e9, 1e9), 2),
            t0 + datetime.timedelta(seconds=rng.randrange(10**7), microseconds=rng.randrange(10**6)),
        )
        for _ in range(40)
    ]
    schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("ts", T.TimestampType())]
    )
    base = spark.createDataFrame(rows, schema)
    src_dir = str(tmp_path / "src")
    base.write.parquet(src_dir)
    q = incremental_hub_stream(
        spark,
        src_dir,
        source_schema=schema,
        key_cols=["k", "ts"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "hub"),
    )
    q.awaitTermination(120)
    stream = {
        (r["hub_hk"], r["k_bk"], r["ts_bk"])
        for r in spark.read.parquet(str(tmp_path / "hub")).collect()
    }

    bk = business_key_from_spec(
        "main", "t", "t", [("k", "double precision"), ("ts", "timestamp")], []
    )
    batch = {
        (r["hub_t_hk"], r["k_bk"], r["ts_bk"]) for r in hub_stage_df(base, bk).collect()
    }
    assert len(batch) == len(rows)
    assert stream == batch
    assert any(r[1:] == ("12345678.50", "2024-06-01 12:00:00.000000") for r in stream)


def test_satellite_stream_rejects_reserved_descriptor_names(spark, tmp_path):
    import pytest

    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("load_ts", T.StringType())])
    with pytest.raises(ValueError, match="collide"):
        incremental_satellite_stream(
            spark, str(tmp_path), source_schema=schema, key_cols=["k"],
            descriptor_cols=["load_ts"], checkpoint_dir=str(tmp_path / "c"),
            output_dir=str(tmp_path / "o"),
        )


def test_satellite_stream_watermark_bounded_state(spark, tmp_path):
    """The watermark path: ts carried through the staged select (it is
    NOT a descriptor), excluded from the hash-diff -- a re-delivery
    with a LATER event time but unchanged descriptors must still
    dedupe, while a changed descriptor still creates a version."""
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("ts", T.LongType()),  # epoch nanos
        ]
    )
    base_ns = 1_704_067_200 * 1_000_000_000  # 2024-01-01T00:00:00Z
    rows = [(k, f"name_{k}", base_ns + k * 1_000_000_000) for k in range(100)]
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(src_dir)
    kwargs = dict(
        source_schema=schema,
        key_cols=["c_custkey"],
        descriptor_cols=["c_name"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_dir=str(tmp_path / "sat"),
        watermark=("ts", "30 days"),
    )
    q = incremental_satellite_stream(spark, src_dir, **kwargs)
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sat"))
    assert out.count() == 100
    # ts survives to the sink as a real timestamp (not in the hash-diff)
    assert dict(out.dtypes)["ts"] == "timestamp"

    # re-deliver everything one hour later; every 10th key renamed
    redelivered = [
        (k, f"renamed_{k}" if k % 10 == 0 else f"name_{k}",
         base_ns + k * 1_000_000_000 + 3_600 * 1_000_000_000)
        for k in range(100)
    ]
    spark.createDataFrame(redelivered, schema).write.mode("append").parquet(src_dir)
    q2 = incremental_satellite_stream(spark, src_dir, **kwargs)
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "sat")).count() == 110


def test_events_stream_sessions_match_batch(spark, sf_dir, tmp_path):
    """session_window streaming sessions (closed by the watermark) must
    agree with the batch gap-sessionization twin on (user, start):
    same event counts and value sums."""
    import shutil

    from pg_auto_dw_spark.functions.sessions import sessionize
    from pg_auto_dw_spark.streaming.jobs import events_stream_sessions

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events_dir / "part-0.parquet")
    q = events_stream_sessions(
        spark, str(events_dir), str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out")).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.col("n_events").alias("s_n"),
        F.col("total_value").alias("s_v"),
    )
    batch = sessionize(load_table(spark, sf_dir, "events"))
    assert out.count() > 0
    j = out.join(batch, ["user_id", "session_start"], "inner")
    # every emitted streaming session exists in the batch result with
    # identical aggregates
    assert j.count() == out.count()
    assert j.filter(
        (F.col("s_n") != F.col("n_events"))
        | (F.abs(F.col("s_v") - F.col("total_value")) > 1e-9)
    ).count() == 0


def test_events_stream_user_stats_stateful(spark, sf_dir, tmp_path):
    """applyInPandasWithState running per-user stats: totals after a
    catch-up run equal the batch aggregation, and state persists across
    a second run over appended data (running totals keep growing)."""
    import shutil

    from pg_auto_dw_spark.streaming.jobs import events_stream_user_stats

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events_dir / "part-0.parquet")
    out_dir = str(tmp_path / "stats_out")
    q = events_stream_user_stats(
        spark, str(events_dir), str(tmp_path / "ckpt"), out_dir
    )
    q.awaitTermination(120)

    def latest(df):
        w = {}
        for r in df.collect():
            cur = w.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                w[r["user_id"]] = (r["n_events"], r["total_value"])
        return w

    got = latest(spark.read.parquet(out_dir))
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(batch)
    for u in batch:
        assert got[u][0] == batch[u][0]
        assert abs(got[u][1] - batch[u][1]) < 1e-6  # float-sum tolerance

    # second run over one appended user's worth of re-delivered events:
    # state accumulates (running totals grow by the appended rows)
    extra = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 1).limit(10)
    n_extra = extra.count()
    # ts stays a real timestamp column: the appended file must remain
    # readable by any ts-consuming stream (rollup/sessions) over the
    # same directory, whose TimestampType schema can't read epoch-long.
    extra.write.mode("append").parquet(str(events_dir))
    q2 = events_stream_user_stats(
        spark, str(events_dir), str(tmp_path / "ckpt"), out_dir
    )
    q2.awaitTermination(120)
    got2 = latest(spark.read.parquet(out_dir))
    assert got2[1][0] == batch[1][0] + n_extra


def _write_events_vintage(df, path: str, unit: str) -> None:
    """Write an events slice as one parquet file with ts in the given
    physical unit ('ns' = the legacy TIMESTAMP(NANOS) vintage, 'us' =
    the current MICROS vintage)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = df.toPandas()
    table = pa.table(
        {
            "event_id": pa.array(pdf["event_id"], pa.int64()),
            "ts": pa.array(pdf["ts"], pa.timestamp(unit)),
            "user_id": pa.array(pdf["user_id"], pa.int64()),
            "event_type": pa.array(pdf["event_type"], pa.string()),
            "value": pa.array(pdf["value"], pa.float64()),
            "props": pa.array(pdf["props"], pa.string()),
        }
    )
    pq.write_table(table, path)


def test_events_stream_rollup_mixed_vintage(spark, sf_dir, tmp_path):
    """A directory mixing one legacy TIMESTAMP(NANOS) file with one
    MICROS file must stream through the ts-consuming rollup (r4
    VERDICT missing item 3: one old file used to kill the stream) and
    agree with the batch rollup over the SAME rows -- proving both
    vintage legs land on identical timestamps."""
    events = load_table(spark, sf_dir, "events")
    legacy_half = events.filter(F.col("event_id") % 2 == 0)
    modern_half = events.filter(F.col("event_id") % 2 == 1)

    events_dir = tmp_path / "events_mixed"
    events_dir.mkdir()
    _write_events_vintage(legacy_half, str(events_dir / "legacy-0.parquet"), "ns")
    _write_events_vintage(modern_half, str(events_dir / "modern-0.parquet"), "us")

    # footer-level split sees exactly one file per vintage
    from pg_auto_dw_spark.streaming.jobs import _ts_vintage_split

    nanos, micros = _ts_vintage_split(str(events_dir))
    assert [os.path.basename(p) for p in nanos] == ["legacy-0.parquet"]
    assert [os.path.basename(p) for p in micros] == ["modern-0.parquet"]

    q = events_stream_rollup(
        spark,
        str(events_dir),
        str(tmp_path / "ckpt_mixed"),
        str(tmp_path / "out_mixed"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out_mixed"))
    batch = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    j = out.join(batch, ["window_start", "event_type"], "inner")
    assert out.count() > 0
    assert j.count() == out.count()
    assert j.filter(out["n_events"] != batch["n_events"]).count() == 0
    # windows mixing rows from BOTH vintages must exist and match --
    # the union is one stream, not two disjoint ones
    mixed_windows = (
        events.withColumn("vintage", F.col("event_id") % 2)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count_distinct("vintage").alias("nv"))
        .filter(F.col("nv") == 2)
    )
    assert out.join(mixed_windows, ["window_start", "event_type"], "inner").count() > 0


def test_events_stream_all_legacy_vintage(spark, sf_dir, tmp_path):
    """An all-NANOS directory streams too (pure legacy backfill)."""
    events = load_table(spark, sf_dir, "events").limit(200)
    events_dir = tmp_path / "events_legacy"
    events_dir.mkdir()
    _write_events_vintage(events, str(events_dir / "legacy-0.parquet"), "ns")
    from pg_auto_dw_spark.streaming.jobs import read_events_stream

    df = read_events_stream(spark, str(events_dir))
    assert dict(df.dtypes)["ts"] == "timestamp"
    out = str(tmp_path / "out_legacy")
    q = (
        df.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_legacy"))
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 200
    # values identical to the batch-normalized read (same truncation)
    exp = {(r["event_id"], r["ts"]) for r in events.select("event_id", "ts").collect()}
    assert {(r["event_id"], r["ts"]) for r in got.select("event_id", "ts").collect()} == exp


def test_vintage_split_treats_int96_as_modern(spark, sf_dir, tmp_path):
    """Spark's default INT96 timestamp output surfaces as
    timestamp[ns] in Arrow but reads natively under a TimestampType
    schema: the vintage sniffer must classify it as modern, or a
    Spark-written append would flip a checkpointed single-source
    stream into a two-source union (source-count mismatch)."""
    from pg_auto_dw_spark.streaming.jobs import _ts_vintage_split

    d = tmp_path / "ev"
    d.mkdir()
    load_table(spark, sf_dir, "events").limit(5).write.mode("append").parquet(str(d))
    nanos, micros = _ts_vintage_split(str(d))
    assert nanos == []
    assert len(micros) >= 1


def test_events_stream_dedup_drops_redelivered(spark, sf_dir, tmp_path):
    """Re-delivered events (same event_id, second file) are emitted
    exactly once; output matches batch dropDuplicates on event_id."""
    from pg_auto_dw_spark.streaming.jobs import events_stream_dedup

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    ev = load_table(spark, sf_dir, "events").limit(400).cache()
    ev.write.mode("overwrite").parquet(str(events_dir))
    # re-deliver half of them verbatim plus some brand-new rows
    redelivered = ev.limit(200)
    fresh = (
        load_table(spark, sf_dir, "events")
        .join(ev.select("event_id"), "event_id", "left_anti")
        .limit(100)
    )
    redelivered.unionByName(fresh).write.mode("append").parquet(str(events_dir))

    q = events_stream_dedup(
        spark, str(events_dir), str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 500  # 400 originals + 100 fresh, no re-deliveries
    assert out.select("event_id").distinct().count() == 500
    # a restart over the same directory emits nothing new
    q2 = events_stream_dedup(
        spark, str(events_dir), str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 500


def test_stream_stream_click_attribution_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (purchase x same-user clicks in the
    preceding 10 min) must emit exactly the batch join's pairs."""
    import shutil

    from pg_auto_dw_spark.streaming.jobs import events_stream_click_attribution

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events_dir / "part-0.parquet")
    q = events_stream_click_attribution(
        spark, str(events_dir), str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "out"))

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "ts", "user_id")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    batch = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 600 SECONDS"))
        & (F.col("click_ts") <= F.col("ts")),
        "inner",
    ).select("event_id", "ts", "user_id", "click_ts", "click_value")
    n_batch = batch.count()
    assert n_batch > 0
    assert out.count() == n_batch
    # pair-level equality, not just counts
    assert out.join(batch, ["event_id", "click_ts", "click_value"], "inner").count() == n_batch


def test_stream_stream_left_outer_keeps_clickless_purchases(spark, sf_dir, tmp_path):
    """left_outer emits every purchase exactly once-or-more (once per
    matching click; once with nulls when no click precedes it)."""
    import shutil

    from pg_auto_dw_spark.streaming.jobs import events_stream_click_attribution

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events_dir / "part-0.parquet")
    q = events_stream_click_attribution(
        spark,
        str(events_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
        join_type="left_outer",
    )
    q.awaitTermination(180)
    out = spark.read.parquet(str(tmp_path / "out"))
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "ts")
    # Null rows for a purchase are emitted only once the watermark PROVES
    # no click can still arrive -- purchases inside the final watermark
    # window (last 1 h of the bounded input) are legitimately withheld.
    # Everything older must appear; null rows must exist and be exactly
    # the clickless purchases among the emitted ids.
    # the global watermark is the MIN of the two sides' watermarks, each
    # max(event time) - 1 h over that side's events
    wm_ts = min(
        ev.filter(F.col("event_type") == "click").agg(F.max("ts")).collect()[0][0],
        ev.filter(F.col("event_type") == "purchase").agg(F.max("ts")).collect()[0][0],
    )
    settled = purchases.filter(
        F.col("ts") < F.lit(wm_ts) - F.expr("INTERVAL 1 HOUR") - F.expr("INTERVAL 600 SECONDS")
    )
    emitted_ids = out.select("event_id").distinct()
    assert settled.join(emitted_ids, "event_id", "left_anti").count() == 0
    nulls = out.filter(F.col("click_ts").isNull())
    assert nulls.count() > 0
    # a null row never coexists with a matched row for the same purchase
    assert nulls.join(out.filter(F.col("click_ts").isNotNull()), "event_id", "inner").count() == 0


def test_jsonl_ingest_stream_end_to_end(spark, tmp_path):
    """New JSONL files stream into clean + quarantine tables; a restart
    over the same directory ingests nothing; a new file ingests only
    its own lines."""
    from pg_auto_dw_spark.streaming.jobs import jsonl_ingest_stream
    from pg_auto_dw_spark.warehouse import Warehouse

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    src = tmp_path / "feed"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "one"}\n{broken\n{"doc_id": 2, "text": "two"}\n'
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    kwargs = dict(
        schema=schema, wh=wh, clean_table="docs.clean",
        quarantine_table="docs.quarantine",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    jsonl_ingest_stream(spark, str(src), **kwargs).awaitTermination(120)
    assert {r["doc_id"] for r in wh.read("docs.clean").collect()} == {1, 2}
    assert [r["raw_line"] for r in wh.read("docs.quarantine").collect()] == ["{broken"]

    # restart, nothing new
    jsonl_ingest_stream(spark, str(src), **kwargs).awaitTermination(120)
    assert wh.read("docs.clean").count() == 2
    assert wh.read("docs.quarantine").count() == 1

    # a late file lands incrementally
    (src / "b.jsonl").write_text('{"doc_id": 3, "text": "three"}\n!!!\n')
    jsonl_ingest_stream(spark, str(src), **kwargs).awaitTermination(120)
    assert {r["doc_id"] for r in wh.read("docs.clean").collect()} == {1, 2, 3}
    assert wh.read("docs.quarantine").count() == 2


def test_jsonl_ingest_apply_replay_is_idempotent(spark, tmp_path):
    """The transactional batch applier: re-applying the same batch id
    (foreachBatch replay after a commit-then-crash) appends nothing."""
    from pg_auto_dw_spark.streaming.jobs import jsonl_ingest_apply
    from pg_auto_dw_spark.warehouse import Warehouse

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    batch = spark.createDataFrame(
        [('{"doc_id": 9, "text": "nine"}',), ("junk",)], "value string"
    )
    r1 = jsonl_ingest_apply(wh, "d.clean", "d.quar", schema, batch, 0)
    r2 = jsonl_ingest_apply(wh, "d.clean", "d.quar", schema, batch, 0)
    assert r1 == {"clean": 1, "quarantined": 1, "replay": False}
    assert r2 == {"clean": 0, "quarantined": 0, "replay": True}
    assert wh.read("d.clean").count() == 1
    assert wh.read("d.quar").count() == 1


def test_jsonl_decontam_ingest_stream(spark, tmp_path):
    """The decontaminating landing zone: a doc sharing an 8-gram with
    the benchmark routes to the contaminated table, clean docs to the
    clean table, malformed lines to quarantine; restart ingests
    nothing; a replayed batch id no-ops."""
    from pg_auto_dw_spark.streaming.jobs import (
        jsonl_decontam_ingest_apply,
        jsonl_decontam_ingest_stream,
    )
    from pg_auto_dw_spark.functions.corpus import bloom_build
    from pg_auto_dw_spark.warehouse import Warehouse

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    banner = "alpha beta gamma delta epsilon zeta eta theta"
    bench = spark.createDataFrame(
        [(1000, f"prefix words here {banner} suffix words there")],
        "doc_id long, text string",
    )
    src = tmp_path / "feed"
    src.mkdir()
    clean_text = "totally unrelated clean document with enough words to gram"
    (src / "a.jsonl").write_text(
        f'{{"doc_id": 1, "text": "{clean_text}"}}\n'
        f'{{"doc_id": 2, "text": "stolen eval text {banner} pasted in"}}\n'
        "not json at all\n"
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    kwargs = dict(
        schema=schema, wh=wh, clean_table="lz.clean",
        contaminated_table="lz.contaminated", quarantine_table="lz.quarantine",
        checkpoint_dir=str(tmp_path / "ckpt"), benchmark=bench,
    )
    jsonl_decontam_ingest_stream(spark, str(src), **kwargs).awaitTermination(120)
    assert {r["doc_id"] for r in wh.read("lz.clean").collect()} == {1}
    assert {r["doc_id"] for r in wh.read("lz.contaminated").collect()} == {2}
    assert wh.read("lz.quarantine").count() == 1

    # restart: file source remembers, nothing re-ingested
    jsonl_decontam_ingest_stream(spark, str(src), **kwargs).awaitTermination(120)
    assert wh.read("lz.clean").count() == 1
    assert wh.read("lz.contaminated").count() == 1

    # direct replay of a committed batch id no-ops
    bloom = bloom_build(bench).localCheckpoint()
    batch = spark.createDataFrame(
        [(f'{{"doc_id": 7, "text": "{clean_text}"}}',)], "value string"
    )
    r1 = jsonl_decontam_ingest_apply(
        wh, "lz.clean", "lz.contaminated", "lz.quarantine", schema, bloom, batch, 0
    )
    assert r1["replay"] is True
