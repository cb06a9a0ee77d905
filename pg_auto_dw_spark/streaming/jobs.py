"""Streaming / recurring computation (SURVEY.md section 2.9).

The reference has no true streaming -- two background workers poll on a
10 s latch (bgw_source_objects.rs:18, bgw_transformer_client.rs:29).
Both of its jobs are idempotent by construction (SCD2 merge; anti-join
loads), so a replayed cycle is a no-op. This module keeps that
property in three families, all started through ``_start_stream``
under ``trigger(availableNow=True)`` (catch-up batch semantics the
tests can drive):

- ``run_polling_worker``: the literal analog -- call a job function on
  a cadence.
- Event-stream operators (``events_stream_*``, ``rollup_stream``,
  ``scd2_dim_stream``, the hub/satellite/vector-index streams,
  ``drift_monitor_stream``): idempotent through stream state
  (``dropDuplicates``), watermarks, or the merge/anti-join semantics
  of the sink they feed.
- Transactional landing zones, six of them: plain / quality-gated
  JSONL, Bloom decontam, exact dedup, MinHash near-dup, semantic
  decontam and media. All six run on one skeleton:

  1. ``_zone_stream`` skips an empty micro-batch;
  2. ``_land`` checks the batch id against ``<table>.ingest_log`` and
     no-ops a replay;
  3. ``_commit`` appends every table the zone writes PLUS the ledger
     row in ONE ``wh.transaction`` (tables that do not exist yet are
     created first), so a crash leaves the whole batch or none of it;
  4. after the commit ``_zone_stream`` runs the zone's hooks (bloom
     absorb, NDV sketches) and then the ``maintenance_every`` cadence
     of ``wh.maybe_compact``.

  The ledger lives INSIDE the transaction, so it can never disagree
  with the tables. The ledger and the stream checkpoint must live and
  die together: wiping the checkpoint restarts batch numbering at 0,
  which the surviving ledger would treat as already ingested.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import hash_key, render

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),  # micros, UTC (see sources.py)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Legacy testdata vintage: ts stored as parquet TIMESTAMP(NANOS), which
# surfaces as long nanos under spark.sql.legacy.parquet.nanosAsLong.
_EVENTS_SCHEMA_NANOS = T.StructType(
    [
        T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
        for f in EVENTS_SCHEMA.fields
    ]
)


def run_polling_worker(
    job: Callable[[], object],
    iterations: int = 1,
    poll_seconds: float = 10.0,
    sleep: Callable[[float], None] = time.sleep,
) -> list[object]:
    """10-second-latch worker loop (bgw_source_objects.rs:18-51).

    ``iterations`` bounds the loop for tests/batch runs; pass
    ``float('inf')``-like large values for a daemon. Results collected
    per iteration."""
    out = []
    for i in range(iterations):
        out.append(job())
        if i + 1 < iterations:
            sleep(poll_seconds)
    return out


def _ts_vintage_split(events_dir: str) -> tuple[list[str], list[str]]:
    """Partition a directory's parquet files into (legacy
    TIMESTAMP(NANOS), everything else) by inspecting only footers --
    metadata-sized work (one small read per file), no data scan.

    The check is on the PARQUET schema, not the Arrow view of it:
    Spark's default INT96 timestamps surface as ``timestamp[ns]`` in
    Arrow but read natively under a TimestampType schema -- only
    physical INT64 annotated TIMESTAMP(NANOS) (the legacy testdata
    vintage) needs the long-nanos leg. Files without a ``ts`` column
    count as modern (the declared schema surfaces any real mismatch
    loudly)."""
    import glob

    import pyarrow.parquet as pq

    nanos: list[str] = []
    micros: list[str] = []
    for p in sorted(glob.glob(os.path.join(events_dir, "*.parquet"))):
        try:
            schema = pq.ParquetFile(p).metadata.schema
            idx = schema.names.index("ts")
            col = schema.column(idx)
            legacy = col.physical_type == "INT64" and "nano" in str(
                col.logical_type
            ).lower()
        except (ValueError, OSError):
            legacy = False
        (nanos if legacy else micros).append(p)
    return nanos, micros


def _vintage_view_root(events_dir: str) -> str:
    """Deterministic location for the per-vintage symlink views, so a
    checkpointed stream restarted over the same source dir re-finds
    its files under identical paths (the file source tracks seen files
    by path). Prefer a ``_vintage_views`` dir INSIDE the source dir
    (the leading underscore hides it from every Spark listing); fall
    back to a source-keyed path under the system temp dir when the
    source is read-only."""
    import hashlib
    import tempfile

    inside = os.path.join(events_dir, "_vintage_views")
    try:
        os.makedirs(inside, exist_ok=True)
        return inside
    except OSError:
        key = hashlib.md5(os.path.abspath(events_dir).encode()).hexdigest()[:16]
        fallback = os.path.join(tempfile.gettempdir(), f"events_vintage_{key}")
        os.makedirs(fallback, exist_ok=True)
        return fallback


def _refresh_vintage_view(view_dir: str, files: list[str]) -> None:
    """Symlink ``files`` into ``view_dir`` (idempotent) and drop
    dangling links left by deleted source files."""
    os.makedirs(view_dir, exist_ok=True)
    for entry in os.listdir(view_dir):
        p = os.path.join(view_dir, entry)
        if os.path.islink(p) and not os.path.exists(p):
            os.unlink(p)
    for f in files:
        link = os.path.join(view_dir, os.path.basename(f))
        if not os.path.lexists(link):
            os.symlink(os.path.abspath(f), link)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream of events parquet, vintage-aware exactly like
    the batch reader (sources.load_table):

    - An all-MICROS directory (current testdata) streams directly: the
      explicit TIMESTAMP schema normalizes NTZ micros to session-UTC
      timestamps, and files arriving later are picked up per trigger.
    - A directory containing legacy TIMESTAMP(NANOS) files is split by
      footer inspection into per-vintage symlink views, each streamed
      with its native schema (NANOS surfaces as long under
      ``nanosAsLong``; converted via ``timestamp_micros(ts DIV 1000)``,
      the same truncation DuckDB applies), then unioned -- both
      vintages land on identical session-UTC TIMESTAMP values.

    The vintage split is computed at stream construction: complete
    under the availableNow/catch-up trigger every job in this module
    uses (and re-computed on every restart, so newly landed files are
    re-discovered then). Under a continuous trigger, files appearing
    in a MIXED directory after construction are not discovered until
    the next restart -- legacy files are a backfill concern, not a
    live-feed one."""
    from ..session import prepare

    prepare(spark)  # nanosAsLong + UTC session tz for the legacy leg
    nanos, micros = _ts_vintage_split(events_dir)
    if not nanos:
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(events_dir)
        )
    root = _vintage_view_root(events_dir)
    nanos_dir = os.path.join(root, "nanos")
    _refresh_vintage_view(nanos_dir, nanos)
    legacy = (
        spark.readStream.schema(_EVENTS_SCHEMA_NANOS)
        .option("maxFilesPerTrigger", 4)
        .parquet(nanos_dir)
        .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    )
    if not micros:
        return legacy
    micros_dir = os.path.join(root, "micros")
    _refresh_vintage_view(micros_dir, micros)
    modern = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(micros_dir)
    )
    return legacy.unionByName(modern)


def _start_stream(
    staged: DataFrame,
    checkpoint_dir: str,
    *,
    sink: Callable[[DataFrame, int], object] | None = None,
    output_dir: str | None = None,
    output_mode: str = "append",
):
    """Start ``staged`` as a catch-up (availableNow) query: into
    ``sink`` through foreachBatch, else as parquet under
    ``output_dir``. Returns the query."""
    writer = (
        staged.writeStream.outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
    )
    if sink is not None:
        return writer.foreachBatch(sink).start()
    return writer.format("parquet").option("path", output_dir).start()


def events_stream_rollup(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    watermark: str = "1 hour",
    window: str = "1 hour",
):
    """Watermarked tumbling-window rollup; availableNow trigger makes it
    a catch-up batch with streaming semantics. Returns the query."""
    ev = read_events_stream(spark, events_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _start_stream(agg, checkpoint_dir, output_dir=output_dir)


def events_stream_sessions(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
):
    """Streaming sessionization with the built-in ``session_window``
    (gap-close semantics identical to functions/sessions.py's batch
    twin): per (user, session) event count + value sum, emitted when
    the watermark closes the session. State is bounded by open sessions
    per user; the shuffle key is user_id."""
    ev = read_events_stream(spark, events_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return _start_stream(agg, checkpoint_dir, output_dir=output_dir)


def events_stream_user_stats(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    output_dir: str,
):
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum, mean) over the event stream -- semantics the
    built-in streaming aggregations can't express as a per-key running
    emission. State is one (cnt, sum) pair per user (bounded by
    distinct users, hash-partitioned on user_id); each micro-batch
    emits the refreshed totals for users it touched.

    Update-mode emissions land via ``foreachBatch`` as an append-only
    changelog in parquet (latest row per user = current totals) -- the
    CDC shape a warehouse sink consumes, and checkpoint-recoverable so
    state survives restarts. availableNow gives catch-up semantics."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, events_dir).select("user_id", "value")

    def fn(key, pdfs, state: GroupState):
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, float(total)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_value": [total],
                "mean_value": [total / cnt if cnt else None],
            }
        )

    staged = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, n_events bigint, total_value double, mean_value double",
        stateStructType="cnt bigint, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            output_dir
        )

    return _start_stream(staged, checkpoint_dir, sink=sink, output_mode="update")


def events_stream_dedup(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    watermark: str = "1 hour",
):
    """Streaming exact deduplication by event_id with watermark-bounded
    state (``dropDuplicatesWithinWatermark``): an event re-delivered
    any time within the watermark delay of its first arrival is
    dropped; state for an id is freed once the watermark passes it, so
    memory is bounded by the id arrival rate x watermark window --
    never by stream lifetime. This is the at-least-once -> effectively-
    once front door for every downstream streaming operator here (the
    hub/satellite streams get idempotency structurally via anti-join
    instead; this form is for sinks without a natural key-diff).

    At 100 TB-scale ingest the state store shuffles on event_id --
    uniform by construction for surrogate ids; RocksDB state backend
    is the production knob (config, not code)."""
    ev = read_events_stream(spark, events_dir)
    deduped = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _start_stream(deduped, checkpoint_dir, output_dir=output_dir)


def events_stream_click_attribution(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    window_sec: int = 600,
    watermark: str = "1 hour",
    join_type: str = "inner",
):
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the ``window_sec`` seconds leading up to it -- the
    streaming twin of the batch keyed range join
    (functions/rangejoin.py / events_range_same_user_attribution).

    Both sides carry a watermark and the join condition combines an
    equi key (user_id) with a time-range bound, which is exactly the
    shape Structured Streaming needs to BOUND the join state: a
    buffered click can be dropped once the watermark passes
    ``click_ts + window_sec`` (no purchase can still match it), and a
    buffered purchase once the watermark passes its ts. Without the
    time bound the state would grow with stream lifetime -- the reason
    this operator insists on the range condition rather than exposing
    a free-form stream join.

    ``join_type='left_outer'`` additionally emits purchases with no
    preceding click (click columns null) once the watermark proves no
    match can arrive -- supported because the range condition gives
    the engine that proof. State shuffles on user_id on both sides
    (co-partitioned by the join), so at cluster scale the state store
    scales horizontally with user cardinality.
    """
    ev = read_events_stream(spark, events_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id")
        .withWatermark("ts", watermark)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("ts") - F.expr(f"INTERVAL {int(window_sec)} SECONDS"))
        & (F.col("click_ts") <= F.col("ts")),
        join_type,
    ).select("event_id", "ts", "user_id", "click_ts", "click_value")
    return _start_stream(joined, checkpoint_dir, output_dir=output_dir)


def rollup_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    rollup,
    prepare: "Callable[[DataFrame], DataFrame] | None" = None,
):
    """Incremental materialized-rollup maintenance from the event
    stream: each micro-batch folds into the rollup via
    IncrementalRollup.apply_batch (partial-space merge, touched
    partitions only). foreachBatch + the checkpoint give the
    exactly-once batch application the additive merge requires --
    a restart re-reads no delivered file, so no batch double-folds
    (same contract as scd2_dim_stream). ``prepare`` maps the raw
    stream frame to the rollup's input columns."""
    ev = read_events_stream(spark, events_dir)
    if prepare is not None:
        ev = prepare(ev)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rollup.apply_batch(batch_df)

    return _start_stream(ev, checkpoint_dir, sink=sink)


def scd2_dim_stream(
    spark: SparkSession,
    wh,
    table: str,
    source_dir: str,
    source_schema: T.StructType,
    key_cols: list[str],
    tracked_cols: list[str],
    checkpoint_dir: str,
    bucket_col: str = "key_bucket",
    n_buckets: int = 64,
    as_of=None,
    order_col: str | None = None,
):
    """Streaming SCD2 dimension maintenance: a CDC file feed merged
    into the key-bucket-partitioned dimension per micro-batch through
    the batch merge (build/scd2_dim.merge_batch) inside foreachBatch --
    the streaming twin of scd2_partitioned_merge, the way a 100 TB
    pipeline keeps a dimension current without full-snapshot crawls.

    The merge assumes at most one row per business key per batch; a
    CDC micro-batch routinely carries several versions of one key (two
    updates within a trigger interval), so the sink first reduces each
    batch to the LATEST row per key: ordered by ``order_col`` when
    given (an explicit CDC sequence column -- the reliable choice),
    with file modification time / path / in-file row index as the
    arrival-order tiebreak (the file feed's native ordering).
    Intermediate versions within one micro-batch are not recorded as
    history -- the same collapse a MERGE-based CDC apply performs.

    Exactly-once *effects* under Structured Streaming's at-least-once
    foreachBatch contract come from the merge semantics themselves:
    re-applying an already-applied batch finds every tracked column
    equal to the current version, so no row closes, resurrects, or
    inserts (the same structural idempotency the batch loaders get
    from anti-joins, dv_loader.rs:177-181). Micro-batches apply
    serially in arrival order, and each merge rewrites only the
    partitions its batch touches.

    ``as_of`` pins the SCD2 timestamps for deterministic tests;
    production leaves it None (merge time)."""
    from pyspark.sql import Window

    from ..build.scd2_dim import merge_batch, with_bucket

    meta_cols = ["_cdc_mtime", "_cdc_path", "_cdc_idx"]
    stream = spark.readStream.schema(source_schema).parquet(source_dir)
    picked = [*key_cols, *tracked_cols] + ([order_col] if order_col else [])
    staged = with_bucket(
        stream.select(
            *picked,
            F.col("_metadata.file_modification_time").alias("_cdc_mtime"),
            F.col("_metadata.file_path").alias("_cdc_path"),
            F.col("_metadata.row_index").alias("_cdc_idx"),
        ),
        key_cols,
        n_buckets,
        bucket_col,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        order = [F.col(c).desc() for c in ([order_col] if order_col else [])] + [
            F.col(c).desc() for c in meta_cols
        ]
        latest = (
            batch_df.withColumn(
                "_rn",
                F.row_number().over(Window.partitionBy(*key_cols).orderBy(*order)),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", *meta_cols)
        )
        merge_batch(
            wh,
            table,
            latest,
            key_cols=key_cols,
            tracked_cols=tracked_cols,
            bucket_col=bucket_col,
            as_of=as_of,
        )

    return _start_stream(staged, checkpoint_dir, sink=sink)


def incremental_hub_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: T.StructType,
    key_cols: list[str],
    checkpoint_dir: str,
    output_dir: str,
    record_source: str = "stream",
):
    """Streaming hub load: hash new keys as files arrive; exactly-once
    per key via stateful dropDuplicates on the hash (the streaming twin
    of the batch anti-join, dv_loader.rs:177-181). State is bounded by
    the number of distinct keys. Keys render and hash through the batch
    loaders' renderer (``functions.hashing``), so batch and streaming
    loads of one table write the same ``_bk`` text and hashes (a raw
    string cast would diverge on doubles >= 1e7 and on timestamps)."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)
    types = dict(stream.dtypes)
    staged = stream.select(
        hash_key(key_cols, types).alias("hub_hk"),
        F.current_timestamp().alias("load_ts"),
        F.lit(record_source).alias("record_source"),
        *[t.alias(f"{c}_bk") for c, t in zip(key_cols, render(key_cols, types))],
    ).dropDuplicates(["hub_hk"])
    return _start_stream(staged, checkpoint_dir, output_dir=output_dir)


def incremental_satellite_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: T.StructType,
    key_cols: list[str],
    descriptor_cols: list[str],
    checkpoint_dir: str,
    output_dir: str,
    record_source: str = "stream",
    watermark: tuple[str, str] | None = None,
):
    """Streaming satellite load: hash key + hash-diff as files arrive;
    exactly-once per (hk, hd) via stateful dropDuplicates -- the
    streaming twin of the batch satellite anti-join
    (dv_loader.rs:339-346), hashing through the same PG-text rendering
    so batch and streaming versions of a row dedupe against each other.

    State notes: unlike the hub (one entry per key), version-dedup
    state grows with every (key, version) ever seen. For long-running
    feeds pass ``watermark=(event_ts_col, delay)`` to switch to
    ``dropDuplicatesWithinWatermark`` -- bounded state, at the cost of
    re-admitting a version re-delivered later than the delay (the
    batch anti-join load remains the exact backstop).

    The watermark column is event-time *metadata*, not a descriptor:
    it is carried through the staged projection (and into the sink,
    where it doubles as the satellite's applied timestamp) but always
    EXCLUDED from the hash-diff -- hashing it would make every
    re-delivery a "new version" and defeat dedup entirely. A LongType
    watermark column is interpreted as epoch nanoseconds and converted
    to a timestamp -- a legacy/synthetic-feed convention (the events
    table itself now ships TimestampType micros).
    """
    reserved = {"hub_hk", "sat_hd", "load_ts", "record_source"}
    clash = reserved & set(descriptor_cols)
    if clash:
        raise ValueError(f"descriptor column(s) {sorted(clash)} collide with generated columns")
    ts_col = watermark[0] if watermark else None
    if ts_col is not None and ts_col not in source_schema.fieldNames():
        raise ValueError(f"watermark column {ts_col!r} not in source schema")
    hash_diff_cols = [c for c in descriptor_cols if c != ts_col]
    out_cols = list(descriptor_cols)
    if ts_col is not None and ts_col not in out_cols:
        out_cols.append(ts_col)
    stream = spark.readStream.schema(source_schema).parquet(source_dir)
    types = dict(stream.dtypes)
    staged = stream.select(
        hash_key(key_cols, types).alias("hub_hk"),
        F.current_timestamp().alias("load_ts"),
        F.lit(record_source).alias("record_source"),
        hash_key(hash_diff_cols, types).alias("sat_hd"),
        *[F.col(c) for c in out_cols],
    )
    if watermark:
        ts_col, delay = watermark
        if isinstance(source_schema[ts_col].dataType, T.LongType):
            staged = staged.withColumn(
                ts_col, F.expr(f"timestamp_micros({ts_col} DIV 1000)")
            )
        staged = staged.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["hub_hk", "sat_hd"]
        )
    else:
        staged = staged.dropDuplicates(["hub_hk", "sat_hd"])
    return _start_stream(staged, checkpoint_dir, output_dir=output_dir)


def vector_index_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: T.StructType,
    wh,
    index_name: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming ingest into a persisted IVF index
    (similarity.build_ivf_index): new embedding files are assigned
    against the STORED codebook and appended into their cell
    partitions via foreachBatch -- the vector-pipeline twin of the
    incremental hub load. Exactly-once per vector id across restarts
    comes from the SINK, not the stream state: foreachBatch is
    at-least-once (a crash between the warehouse commit and the
    checkpoint commit log replays the batch with stale dedup state),
    so append_to_ivf_index anti-joins the batch against the ids
    already present in its touched cells (partition-pruned:
    probe_touched_cells_only=True) and a replayed batch appends
    nothing -- the scd2_dim_stream idempotent-merge posture. The
    cell-restricted probe is sound HERE because a foreachBatch replay
    is byte-identical (same source offsets) and assignment against the
    same stored codebook is deterministic, so a replay can only land
    in its original cells; callers without that contract get the
    global id probe by default (similarity.append_to_ivf_index). The in-stream dropDuplicates only
    collapses same-id rows within the feed.

    Codebook staleness is the documented posture (periodic full
    rebuilds, similarity.append_to_ivf_index); the stream only ever
    reads the codebook current at each batch."""
    from ..functions.similarity import append_to_ivf_index

    stream = (
        spark.readStream.schema(source_schema)
        .parquet(source_dir)
        .dropDuplicates([id_col])
    )

    def sink(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        append_to_ivf_index(
            wh, batch_df, index_name, id_col, vec_col, probe_touched_cells_only=True
        )

    return _start_stream(stream, checkpoint_dir, sink=sink)


# -- landing-zone skeleton (see the module docstring) -------------------


def _commit(wh, appends: list) -> list[int]:
    """Append every ``(table, frame)`` in ONE warehouse transaction;
    returns the rows each append wrote. Tables that do not exist yet
    are created first from their frame's schema (a ``__bucket`` column
    marks a hash-bucket-partitioned sidecar), so an empty frame still
    creates its table -- an empty audit table means healthy, never
    switched off -- while committing nothing."""
    for table, df in appends:
        if not wh.exists(table):
            parts = ["__bucket"] if "__bucket" in df.columns else None
            wh.create_table(table, df.schema, partition_by=parts)
    with wh.transaction([t for t, _ in appends]) as txn:
        counts = [txn.append(t, df) for t, df in appends]
    return counts


def _land(wh, table: str, batch_id: int, stage: Callable[[list], object]):
    """Replay guard: None when ``batch_id`` is already in
    ``<table>.ingest_log`` (a metadata-sized ledger, read on the driver
    without a Spark job); otherwise ``stage(ledger_appends)``, which
    must hand the ledger appends to its ``_commit``, and its result."""
    ledger = f"{table}.ingest_log"
    if wh.exists(ledger) and batch_id in wh.read_arrow(ledger)["batch_id"].to_pylist():
        return None
    row = wh.spark.createDataFrame([(int(batch_id),)], "batch_id bigint")
    return stage([(ledger, row)])


def _zone_counts(keys: tuple, counts: list[int] | None) -> dict:
    """The dict a ``batch_id``-taking zone apply returns: rows per
    output table in ``keys`` order, all zero on a replay."""
    return {**dict(zip(keys, counts or [0] * len(keys))), "replay": counts is None}


def _zone_stream(
    source: DataFrame,
    wh,
    checkpoint_dir: str,
    land: Callable[[DataFrame, int], object],
    hooks=(),
    maintain=(),
    maintenance_every: int = 0,
    maintenance_kwargs: dict | None = None,
):
    """Start a landing zone over ``source``. Per micro-batch: skip it
    when empty; ``land(batch_df, batch_id)`` replay-checks and commits
    it (``_land``) and returns None for a replay. After a commit each
    hook runs on land's result, then every ``maintenance_every``
    committed batches ``wh.maybe_compact`` runs on each ``maintain``
    table. Both are post-commit on purpose: a crash there loses a
    rewrite or a sketch merge, never rows."""
    since = 0

    def sink(batch_df, batch_id):
        nonlocal since
        if batch_df.isEmpty():
            return
        landed = land(batch_df, batch_id)
        if landed is None:
            return
        for hook in hooks:
            hook(landed)
        if maintenance_every > 0:
            since += 1
            if since >= maintenance_every:
                since = 0
                for t in maintain:
                    wh.maybe_compact(t, **(maintenance_kwargs or {}))

    return _start_stream(source, checkpoint_dir, sink=sink)


def _ndv_hooks(wh, corpus_table: str, ndv_cols: list[str] | None) -> list:
    """Post-commit hook maintaining the ingest-offered NDV ledger
    ``<corpus_table>.ndv`` over each batch's typed rows (none without
    ``ndv_cols``). Grain: every well-formed value presented at the
    front door, so a rejected resubmission still registers its side
    columns; register-max merge is idempotent, so a replay re-merges
    to the same registers and a crash before the merge only
    under-estimates until a later batch carries those values."""
    if not ndv_cols:
        return []
    from ..functions.sketch import update_ndv_sketches

    return [lambda typed: update_ndv_sketches(wh, f"{corpus_table}.ndv", typed, ndv_cols)]


def jsonl_ingest_apply(
    wh,
    clean_table: str,
    quarantine_table: str,
    schema: T.StructType,
    batch_df,
    batch_id: int,
    corrupt_col: str = "_corrupt_record",
    *,
    rejected_table: str | None = None,
    quality_gopher: bool = False,
    gopher_kwargs: dict | None = None,
    quality_weights=None,
    min_quality_score: float = 0.0,
    text_col: str = "text",
) -> dict:
    """Apply one micro-batch of raw JSONL lines transactionally:
    parse/split with the same from_json contract as
    ``sources.read_jsonl_quarantine``, then append the clean rows, the
    quarantined lines, AND the batch-id ledger row in ONE warehouse
    transaction. Exactly-once across foreachBatch replays comes from
    the ledger living INSIDE the transaction: a replayed batch finds
    its id already committed and no-ops, while a crash before the
    commit left no partial append to collide with (the journal
    roll-forward lands all three tables or none).

    OPTIONAL QUALITY GATE (r11 VERDICT directive 6): with
    ``rejected_table`` set, typed rows must also pass
    (a) the Gopher rule verdict (``quality_gopher=True`` -- pure
    map-only expressions composed into the same scan, the
    text.gopher_exprs composition the datacard uses; tune via
    ``gopher_kwargs``) and
    (b) the trained linear quality classifier
    (``quality_weights`` = the (b, wt) table
    ``selection.train_linear_classifier`` returns; serving via
    ``hashed_linear_score`` -- broadcast model, batch-sized rollup
    keyed on a checkpoint-pinned row key so NULL/duplicate doc ids
    route by their own text, never by an id join) at
    ``score >= min_quality_score``.
    Failing rows land VERBATIM-typed in ``rejected_table`` (kept for
    audit/threshold recalibration, excluded from training data by
    construction); a row with no score (zero tokens) fails. The gate
    adds one batch-sized pass -- the LEDGER is never scanned or
    shuffled by it.

    The ledger is ``<clean_table>.ingest_log``; it and the stream
    checkpoint must live and die together (module docstring).

    Returns {"clean": n, "quarantined": n[, "rejected": n],
    "replay": bool}."""
    if (quality_gopher or quality_weights is not None) and rejected_table is None:
        # a silently-disabled gate is a quiet data-quality failure in
        # a landing zone (r12 ADVICE): fail loudly instead
        raise ValueError(
            "quality_gopher/quality_weights set but rejected_table is None; "
            "the quality gate needs a rejected_table to route failures to"
        )
    gate_on = rejected_table is not None and (
        quality_gopher or quality_weights is not None
    )

    def stage(ledger_row):
        from ..sources import split_jsonl_lines

        clean, quarantined = split_jsonl_lines(
            batch_df.localCheckpoint(),  # parsed once, read by 2 appends
            schema,
            corrupt_col,
        )
        appends = [(quarantine_table, quarantined)]
        if gate_on:
            verdict = F.lit(True)
            frame = clean
            if quality_gopher:
                from ..functions.text import gopher_exprs

                _c, _r, gv = gopher_exprs(F.col(text_col), **(gopher_kwargs or {}))
                verdict = verdict & gv
            if quality_weights is not None:
                from ..functions.selection import hashed_linear_score

                # checkpoint-pinned synthetic row key: the gate must route
                # every row by its OWN text (NULL or colliding doc ids
                # would misfile under an id join, the decontam-zone rule)
                frame = frame.withColumn(
                    "__qrk", F.monotonically_increasing_id()
                ).localCheckpoint()
                scores = hashed_linear_score(
                    frame.select("__qrk", text_col),
                    weights=quality_weights,
                    text_col=text_col,
                    id_col="__qrk",
                ).select("__qrk", F.col("score").alias("__qscore"))
                frame = frame.join(scores, "__qrk", "left")
                verdict = verdict & (F.col("__qscore") >= F.lit(min_quality_score))
            flagged = frame.withColumn(
                "__qpass", F.coalesce(verdict, F.lit(False))
            ).localCheckpoint()
            helper_cols = [c for c in ("__qrk", "__qscore", "__qpass") if c in flagged.columns]
            clean = flagged.filter(F.col("__qpass")).drop(*helper_cols)
            appends.append(
                (rejected_table, flagged.filter(~F.col("__qpass")).drop(*helper_cols))
            )
        return _commit(wh, [(clean_table, clean), *appends, *ledger_row])

    keys = ("clean", "quarantined", "rejected") if gate_on else ("clean", "quarantined")
    return _zone_counts(keys, _land(wh, clean_table, batch_id, stage))


def jsonl_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    wh,
    clean_table: str,
    quarantine_table: str,
    checkpoint_dir: str,
    corrupt_col: str = "_corrupt_record",
    **quality_gate,
):
    """Streaming landing-zone JSONL ingestion: new files under
    ``source_dir`` stream in as raw lines, split into typed clean rows
    vs verbatim quarantined lines (schema drift included), and land in
    two warehouse tables through the transactional batch applier --
    the streaming twin of ``sources.read_jsonl_quarantine`` and the
    front door a continuously-crawling corpus feed needs. State is
    only the file-source log; the parse is stateless, so the stream
    scales with file arrival rate, not corpus size.

    ``quality_gate`` kwargs pass through to ``jsonl_ingest_apply``
    (rejected_table / quality_gopher / gopher_kwargs / quality_weights
    / min_quality_score / text_col): the trained-classifier + Gopher
    quality gate, so the landing zone admits training-eligible text
    only -- train once with ``selection.train_linear_classifier``,
    collect-free broadcast serving per batch. The weights frame is
    evaluated per batch; pass a localCheckpoint-pinned frame so a
    restarted stream serves the same model bytes."""

    def land(batch_df, batch_id):
        return jsonl_ingest_apply(
            wh, clean_table, quarantine_table, schema, batch_df, batch_id,
            corrupt_col, **quality_gate,
        )

    return _zone_stream(spark.readStream.text(source_dir), wh, checkpoint_dir, land)


def jsonl_decontam_ingest_apply(
    wh,
    clean_table: str,
    contaminated_table: str,
    quarantine_table: str,
    schema: T.StructType,
    bloom,
    batch_df,
    batch_id: int,
    text_col: str = "text",
) -> dict:
    """One micro-batch of the DECONTAMINATING landing zone: raw JSONL
    lines split three ways in one warehouse transaction --

    - ``clean_table``: typed rows whose text misses the benchmark
      Bloom bitset entirely (training-eligible),
    - ``contaminated_table``: typed rows the bitset flags (kept for
      audit, excluded from training by construction -- the Bloom
      no-false-negative contract means nothing contaminated can reach
      ``clean_table``),
    - ``quarantine_table``: verbatim malformed / schema-drift lines.

    Same exactly-once ledger-inside-the-transaction contract as
    ``jsonl_ingest_apply``; the bloom row is FROZEN bytes built once at
    stream start, so every batch probes the same filter and a restart
    cannot shift verdicts."""
    from ..functions.corpus import _with_bloom_hit
    from ..sources import split_jsonl_lines

    def stage(ledger_row):
        typed, quarantined = split_jsonl_lines(batch_df.localCheckpoint(), schema)
        # route each row by its own in-place probe verdict -- no id joins,
        # so NULL-id rows route by their text like any other row (an
        # id-keyed semi join would misfile every NULL id as contaminated)
        flagged = _with_bloom_hit(typed, bloom, text_col).localCheckpoint()
        return _commit(wh, [
            (clean_table, flagged.filter(~F.col("bloom_hit")).drop("bloom_hit")),
            (contaminated_table, flagged.filter(F.col("bloom_hit")).drop("bloom_hit")),
            (quarantine_table, quarantined),
            *ledger_row,
        ])

    return _zone_counts(
        ("clean", "contaminated", "quarantined"),
        _land(wh, clean_table, batch_id, stage),
    )


def jsonl_decontam_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    wh,
    clean_table: str,
    contaminated_table: str,
    quarantine_table: str,
    checkpoint_dir: str,
    benchmark,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    m_bits: int | None = None,
    maintenance_every: int = 0,
    maintenance_kwargs: dict | None = None,
):
    """Streaming decontaminating landing zone: the jsonl ingest front
    door composed with broadcast-Bloom decontamination, so benchmark-
    contaminated documents never enter the training-eligible table in
    the first place (filter-at-ingest beats scrub-later at corpus
    scale: the contaminated rows are never re-read by every downstream
    pass). The bitset is built ONCE from the benchmark at stream start
    (bounded driver work): ``bloom_build`` returns a DRIVER-LOCAL
    relation (frozen bytes, identical across batches and restarts), so
    steady state needs no cluster-resident block at all. The sink still
    keeps a rebuild-and-retry-once path as defense in depth -- the
    bloom's determinism licenses it (same benchmark -> bit-identical
    bitset -> identical verdicts), and the apply's transaction is
    atomic (ledger inside), so the retry never double-writes. The
    first failure is LOGGED before the retry: a deterministic error
    would otherwise silently re-run a full benchmark gram collect and
    fail again with the original cause discarded.

    ``maintenance_every`` > 0 runs ``wh.maybe_compact`` on the clean
    table every N committed batches (``maintenance_kwargs`` forwarded)
    -- same post-commit maintenance loop as
    ``jsonl_dedup_ingest_stream``."""
    import logging

    from ..functions.corpus import bloom_build

    def _build():
        return bloom_build(
            benchmark, n=n, m_bits=m_bits, text_col=text_col, id_col=id_col
        )

    holder = {"bloom": _build()}

    def apply(batch_df, batch_id):
        out = jsonl_decontam_ingest_apply(
            wh, clean_table, contaminated_table, quarantine_table, schema,
            holder["bloom"], batch_df, batch_id, text_col,
        )
        return None if out["replay"] else out

    def land(batch_df, batch_id):
        try:
            return apply(batch_df, batch_id)
        except Exception:
            logging.getLogger(__name__).warning(
                "decontam apply failed for batch %s; rebuilding bloom and "
                "retrying once",
                batch_id,
                exc_info=True,
            )
            holder["bloom"] = _build()
            return apply(batch_df, batch_id)

    return _zone_stream(
        spark.readStream.text(source_dir), wh, checkpoint_dir, land,
        maintain=(clean_table,),
        maintenance_every=maintenance_every,
        maintenance_kwargs=maintenance_kwargs,
    )


def drift_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    source_schema: T.StructType,
    wh,
    drift_table: str,
    reference: DataFrame,
    keys: list[str],
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
    epsilon: float = 1e-4,
    checkpoint_dir: str | None = None,
):
    """Streaming PSI drift monitor: per micro-batch, the batch's
    equi-width histogram of ``col`` per ``keys`` group is compared
    against a FIXED reference corpus's histogram and one
    (keys..., psi, n_old, n_new, batch_id) row per group lands in
    ``drift_table`` -- the continuous form of ``stats.drift_report``,
    the gate an ingest pipeline alerts on between windows (PSI < 0.1
    stable, 0.1-0.25 drifting, > 0.25 shifted).

    The reference histogram is computed ONCE at stream start and
    collected to the driver -- it is bounded at groups x buckets BY
    CONSTRUCTION (the bounded-model-collect contract of bloom_build /
    hashed_idf_model), so each batch recreates it as a local relation
    instead of re-scanning the reference corpus or pinning a
    non-reliable checkpoint block (the r8-ADVICE bloom lesson: driver
    state survives executor loss by definition). Per batch the only
    corpus-sized work is the batch's own one-pass histogram."""
    from ..functions.sketch import equi_width_histogram
    from ..functions.stats import psi_from_histograms

    ref_hist = equi_width_histogram(reference, keys, col, lo, hi, n_buckets)
    ref_schema = ref_hist.schema
    ref_rows = ref_hist.collect()  # bounded: groups x buckets

    if not wh.exists(drift_table):
        wh.create_table(
            drift_table,
            T.StructType(
                [
                    *[ref_schema[k] for k in keys],
                    T.StructField("psi", T.DoubleType()),
                    T.StructField("n_old", T.LongType()),
                    T.StructField("n_new", T.LongType()),
                    T.StructField("batch_id", T.LongType()),
                ]
            ),
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        h_new = equi_width_histogram(batch_df, keys, col, lo, hi, n_buckets)
        ref = spark.createDataFrame(ref_rows, ref_schema)
        out = psi_from_histograms(ref, h_new, keys, epsilon).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        wh.append(drift_table, out)

    return _start_stream(
        spark.readStream.schema(source_schema).parquet(source_dir),
        checkpoint_dir or os.path.join(wh.root, "_checkpoints", drift_table),
        sink=sink,
    )


def _ledger_unseen(ledger: DataFrame, batch: DataFrame) -> DataFrame:
    """``batch`` rows whose ``__digest`` is absent from ``ledger`` --
    shaped so the corpus-scale side never shuffles. A naive
    ``batch.join(ledger, anti)`` cannot broadcast the batch (Spark
    builds LeftAnti on the RIGHT only), so a grown ledger would
    SortMergeJoin-shuffle in full per micro-batch. Here the ledger is
    the LEFT of a left_semi against the broadcast batch digests (one
    ledger scan, zero ledger shuffle, output <= batch size), and the
    batch anti-joins the broadcast hit set. Plan-pinned in
    test_plan_shapes.py: no shuffle Exchange anywhere, both joins
    BroadcastHashJoin build-right."""
    hits = ledger.join(
        F.broadcast(batch.select("__digest")), "__digest", "left_semi"
    )
    return batch.join(F.broadcast(hits), "__digest", "left_anti")


def dedup_ingest_apply(
    wh,
    corpus_table: str,
    ledger_table: str,
    typed,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_appends: list | None = None,
    ledger_bloom: DataFrame | None = None,
) -> dict:
    """Cross-batch exact dedup against a PERSISTED digest ledger: the
    production ingest pattern where "have we seen this text before" is
    a question about every batch ever landed, not just this one (the
    stateful-stream dedup bounds its memory with a watermark; the
    ledger is the unbounded-horizon answer, restart-proof because it
    is a table).

    Within-batch duplicates keep the min-id canonical row
    (``dedup_exact``'s rule); survivors are checked against the ledger
    on the sha256 digest; the new rows AND their digests land in ONE
    warehouse transaction, so a crash between them cannot split the
    corpus from its ledger (a digest without its row would silently
    drop every future resubmission of that text). Rows with NULL text
    pass through UNDEDUPED and unledgered -- no-content rows are a
    cleaning concern, not an identity.

    Returns {"ingested", "dup_within_batch", "dup_vs_ledger"}.

    The stats counts plus the two appends evaluate ``typed`` several
    times -- pass a pinned frame (the streaming caller hands the
    micro-batch through localCheckpoint; a batch caller with expensive
    lineage should do the same) so the lineage runs once.

    100 TB posture -- the join DIRECTION is the whole story. Spark's
    BroadcastHashJoin builds LeftAnti on the RIGHT side only, so
    ``batch.join(ledger, anti)`` can never broadcast the batch: once
    the ledger outgrows the broadcast threshold (the entire point of
    an unbounded-horizon ledger) that shape degrades to a
    SortMergeJoin SHUFFLING the corpus-scale ledger on every
    micro-batch. Instead the ledger is probed as the LEFT of a
    left_semi against the BROADCAST batch digests -- one ledger SCAN,
    zero ledger shuffle, output <= batch size -- and the batch
    anti-joins the broadcast hit set (plan-pinned in
    test_plan_shapes.py: no Exchange on the ledger subtree at any
    ledger size). The per-batch ledger scan is the floor for exact
    unbounded-horizon dedup on a heap table; pass ``ledger_bloom`` (a
    ``corpus.bloom_build_keys`` row over the ledger digests --
    ``jsonl_dedup_ingest_stream`` maintains one) to skip even the
    scan when no batch digest can possibly be in the ledger. The
    bloom MUST cover every ledger digest at call time (no false
    negatives) or resubmitted rows would be re-admitted; false
    positives only cost a redundant ledger probe."""
    from pyspark.sql import Window

    digest = F.sha2(F.col(text_col), 256)
    staged = typed.withColumn("__digest", digest)
    nulls = staged.filter(F.col("__digest").isNull()).drop("__digest")
    hashed = staged.filter(F.col("__digest").isNotNull())
    w = Window.partitionBy("__digest").orderBy(F.col(id_col))
    canon = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    n_batch = typed.count()
    n_canon = canon.count()
    if ledger_bloom is not None:
        from ..functions.corpus import with_key_bloom_hit

        flagged = with_key_bloom_hit(canon, ledger_bloom, "__digest")
        possible = flagged.filter(F.col("bloom_hit")).drop("bloom_hit")
        definite = flagged.filter(~F.col("bloom_hit")).drop("bloom_hit")
        n_possible = possible.count()
    else:
        possible, definite, n_possible = canon, None, n_canon
    if n_possible == 0 or not wh.exists(ledger_table):
        # every survivor is provably absent from the ledger (bloom has
        # no false negatives, or there is no ledger yet) -- the ledger
        # is never even scanned
        new = canon
    else:
        ledger = wh.read(ledger_table).select(F.col("digest").alias("__digest"))
        new = _ledger_unseen(ledger, possible)
        if definite is not None:
            new = new.unionByName(definite)
    # extra_appends ride the SAME transaction (streaming composition:
    # quarantine lines + the batch-id replay guard) -- a crash anywhere
    # leaves either the whole batch or none of it, so the replay guard
    # can never disagree with the corpus (NULL-text rows are undeduped
    # and would double-append under a split-transaction replay)
    ingested, n_new = _commit(wh, [
        (corpus_table, new.drop("__digest").unionByName(nulls)),
        (
            ledger_table,
            new.select(F.col("__digest").alias("digest"), F.col(id_col).alias("first_id")),
        ),
        *(extra_appends or []),
    ])[:2]
    n_nulls = ingested - n_new  # NULL-text rows ride the corpus append only
    return {
        "ingested": ingested,
        "dup_within_batch": (n_batch - n_nulls) - n_canon,
        "dup_vs_ledger": n_canon - n_new,
    }


def jsonl_dedup_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    wh,
    corpus_table: str,
    quarantine_table: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ledger_bloom_m_bits: int | None = None,
    maintenance_every: int = 0,
    maintenance_kwargs: dict | None = None,
    ndv_cols: list[str] | None = None,
):
    """Deduplicating JSONL landing zone: the ingest front door composed
    with the digest-ledger dedup, so a re-crawled or re-submitted
    document can never enter the corpus twice across ANY horizon --
    batches, restarts, or months of feeds. Per micro-batch, in one
    warehouse transaction: typed new-digest rows append to
    ``corpus_table``, their digests to ``<corpus_table>.digests``,
    malformed lines verbatim to ``quarantine_table``, and the batch id
    to the ingest ledger (replayed batches are exact no-ops).

    ``ledger_bloom_m_bits`` turns on the digest-bloom front filter:
    the stream builds a ``bloom_build_keys`` bitset over the EXISTING
    ledger at start (distributed build, driver holds m/8 bytes) and
    keeps it current by OR-ing each batch's digests in after the
    batch commits -- so the no-false-negative contract the apply
    depends on holds across the stream's whole life, and a restart
    rebuilds from the ledger table. Mostly-new batches then skip the
    per-batch ledger scan entirely; resubmission-heavy batches pay one
    scan, never a ledger shuffle.

    ``maintenance_every`` > 0 wires the small-file maintenance loop in:
    every N committed batches the sink runs ``wh.maybe_compact`` on the
    landing tables (corpus + digest ledger) with ``maintenance_kwargs``
    forwarded -- the health probe is an O(files) directory listing, so
    the cadence costs nothing until one-file-per-batch accretion
    actually crosses the threshold, and then exactly one rewrite
    repays it. Maintenance runs AFTER the batch transaction commits
    (compaction is a separate generation commit; a crash between them
    loses only the rewrite, never rows).

    ``ndv_cols`` maintains the incremental NDV ledger
    (``sketch.update_ndv_sketches`` on ``<corpus_table>.ndv``) over
    the typed rows of every committed batch -- distinct-value
    profiling with no rescans, after the bloom absorb (``_ndv_hooks``
    has the grain and the crash window). For text itself
    ingest-offered NDV equals corpus-row NDV (rejection means the text
    digest was already ledgered); corpus-grain NDV of side columns is
    one ``ndv_sketch_rows`` pass over the corpus table when needed."""
    import numpy as np

    from ..functions.corpus import _gram_hash_pair, bloom_build_keys
    from ..sources import split_jsonl_lines

    ledger_table = f"{corpus_table}.digests"
    bloom_state: dict | None = None
    if ledger_bloom_m_bits is not None:
        if wh.exists(ledger_table):
            seed = wh.read(ledger_table).select("digest")
        else:
            seed = spark.createDataFrame([], "digest string")
        row_df = bloom_build_keys(seed, "digest", m_bits=ledger_bloom_m_bits)
        head = row_df.first()
        bloom_state = {
            "df": row_df,
            "words": np.array(head["bits"], dtype=np.int64).view(np.uint64),
            "m_bits": int(head["m_bits"]),
            "k": int(head["k"]),
            "n_keys": int(head["n_grams"]),
        }

    def _absorb_batch_digests(typed):
        """OR this batch's digests into the maintained bitset (batch-
        sized collect; superset of the NEW digests is fine -- extra
        bits only raise the false-positive rate, never break the
        no-false-negative contract)."""
        h1, h2 = _gram_hash_pair(F.col("__d"))
        pairs = (
            typed.select(F.sha2(F.col(text_col), 256).alias("__d"))
            .filter(F.col("__d").isNotNull())
            .distinct()
            .select(h1.alias("h1"), h2.alias("h2"))
            .collect()
        )
        w, m, k = bloom_state["words"], bloom_state["m_bits"], bloom_state["k"]
        for r in pairs:
            for i in range(k):
                pos = (r["h1"] + i * r["h2"]) % m
                w[pos // 64] |= np.uint64(1) << np.uint64(pos % 64)
        bloom_state["n_keys"] += len(pairs)
        bloom_state["df"] = spark.createDataFrame(
            [(
                [int(x) for x in w.view(np.int64)],
                m,
                k,
                0,
                bloom_state["n_keys"],
            )],
            "bits array<bigint>, m_bits bigint, k int, n int, n_grams bigint",
        ).localCheckpoint(eager=True)

    def land(batch_df, batch_id):
        def stage(ledger_row):
            typed, quarantined = split_jsonl_lines(batch_df.localCheckpoint(), schema)
            dedup_ingest_apply(
                wh, corpus_table, ledger_table, typed, text_col, id_col,
                extra_appends=[(quarantine_table, quarantined), *ledger_row],
                ledger_bloom=bloom_state["df"] if bloom_state is not None else None,
            )
            return typed

        return _land(wh, corpus_table, batch_id, stage)

    # the bloom absorb runs AFTER the commit and BEFORE the NDV merge: a
    # crash before it restarts with a ledger-rebuilt bloom, a crash
    # after it loses nothing
    absorb = [_absorb_batch_digests] if bloom_state is not None else []
    return _zone_stream(
        spark.readStream.text(source_dir), wh, checkpoint_dir, land,
        hooks=absorb + _ndv_hooks(wh, corpus_table, ndv_cols),
        maintain=(corpus_table, ledger_table),
        maintenance_every=maintenance_every,
        maintenance_kwargs=maintenance_kwargs,
    )


def _ledger_hits(ledger: DataFrame, keys: DataFrame, on: list[str]) -> DataFrame:
    """Rows of a CORPUS-SCALE ``ledger`` whose ``on`` keys appear in the
    batch-sized ``keys`` frame: ledger as the LEFT of a left_semi
    against the broadcast keys -- one ledger scan, zero ledger shuffle,
    output bounded by the matching rows. The same join direction as
    ``_ledger_unseen`` (Spark broadcasts LeftSemi build-RIGHT only), so
    the shape holds at any ledger size."""
    return ledger.join(F.broadcast(keys.select(*on)), on, "left_semi")


def _dupes_appends(dupes_table, batch, matched, dup_members, id_col: str) -> list:
    """The ``dupes_table`` append: dropped ``batch`` rows plus their
    (id, matched_id) lineage. Canonicals
    that cross-matched the corpus point at their corpus witness, and
    within-batch cluster MEMBERS point at the row that actually
    survived -- their canonical when it was admitted, or the
    canonical's corpus witness when the canonical itself cross-matched
    (r13 ADVICE: members were previously dropped with no lineage).
    ``matched_id`` therefore always names a row present in the corpus
    table. Empty when there is no dupes table or the batch produced no
    dup lineage at all; every frame here is batch-sized."""
    if dupes_table is None:
        return []
    links = None
    if matched is not None:
        links = matched.select(F.col("id_a").alias(id_col), "matched_id")
    if dup_members is not None:
        if matched is not None:
            resolved = dup_members.join(
                matched, dup_members["cluster_id"] == matched["id_a"], "left"
            ).select(
                dup_members[id_col],
                F.coalesce("matched_id", "cluster_id").alias("matched_id"),
            )
        else:
            resolved = dup_members.select(
                id_col, F.col("cluster_id").alias("matched_id")
            )
        links = resolved if links is None else links.unionByName(resolved)
    return [] if links is None else [(dupes_table, batch.join(links, id_col))]


def _check_layout(wh, tables: tuple, n_sidecar_parts: int | None) -> None:
    """A sidecar's hash-bucket layout is fixed at first ingest: fail
    loudly when an existing table in ``tables`` disagrees with this
    call's ``n_sidecar_parts``."""
    for table in tables:
        if not wh.exists(table):
            continue
        has = "__bucket" in wh.read(table).columns
        if has != (n_sidecar_parts is not None):
            raise ValueError(
                f"{table} layout mismatch: table is "
                f"{'bucketed' if has else 'unpartitioned'} but this call "
                f"passed n_sidecar_parts={n_sidecar_parts}; the sidecar "
                f"layout is fixed at first ingest"
            )


def _probe_sidecar(wh, table: str, keys, on: list[str], bucket, n_sidecar_parts):
    """``_ledger_hits`` of the batch-sized ``keys`` against sidecar
    ``table``. On a bucketed sidecar (``bucket``: the partition
    expression over ``keys``) the batch's bucket set is collected and
    the scan partition-prunes to it -- but only when the batch leaves
    most partitions untouched; a bucket set covering everything pays
    listing/filter overhead for nothing."""
    ledger = wh.read(table)
    if bucket is not None:
        buckets = [r["b"] for r in keys.select(bucket.alias("b")).distinct().collect()]
        if len(buckets) <= n_sidecar_parts * 0.8:
            ledger = ledger.filter(F.col("__bucket").isin(buckets))
        ledger = ledger.drop("__bucket")
    return _ledger_hits(ledger, keys, on)


def _collapse_within(within: DataFrame, signed_ids: DataFrame, id_col: str):
    """Verified within-batch pairs -> (canonical ids, cluster members
    with their ``cluster_id`` or None, member count): connected
    components, min-id canonical per cluster. The common batch has no
    within-dups and skips clustering entirely: the ``isEmpty`` probe is
    one job, while clustering an empty edge set still reads it, pins
    the members and counts them."""
    from ..functions.dedup import connected_components

    if within.isEmpty():
        return signed_ids, None, 0
    comp = connected_components(within, nodes=signed_ids, id_col=id_col)
    members = comp.filter(F.col(id_col) != F.col("cluster_id")).select(
        id_col, "cluster_id"
    ).localCheckpoint(eager=True)
    canon = comp.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return canon, members, members.count()


def neardup_ingest_apply(
    wh,
    corpus_table: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 5,
    sim_threshold: float = 0.75,
    max_probe_bucket: int = 256,
    dupes_table: str | None = None,
    extra_appends: list | None = None,
    n_sidecar_parts: int | None = None,
    monitor_table: str | None = None,
) -> dict:
    """Cross-batch NEAR-duplicate dedup against a persisted MinHash
    ledger: the streaming twin of ``dedup.minhash_lsh_candidates`` --
    "is this document a near-copy of ANYTHING ever ingested", answered
    per micro-batch without a corpus-scale join. The exact-dedup
    digest ledger (``dedup_ingest_apply``) catches byte-identical
    resubmissions; this catches the re-crawl that differs by a
    timestamp, a boilerplate footer, or an edit.

    Ledger = two sidecar tables: ``<corpus>.bands`` (doc_id, band,
    band_key) and ``<corpus>.minhash`` (doc_id, g0..g{n-1}).

    Per batch (all heavy frames batch-sized; caller pins the batch,
    same contract as ``dedup_ingest_apply``):

    1. Wide MinHash signatures for the batch (one shuffle over batch
       shingles). Docs yielding NO signature -- NULL text only; a
       short text still gets one whole-text shingle -- cannot be
       near-dup checked: they are admitted WITHOUT ledger rows and
       counted (``n_unsigned``); compose with the digest ledger for
       their exact-dedup semantics.
    2. Within-batch collapse: hot-bucket-star-capped band-key
       candidates (``band_pair_candidates``, the SAME generator as
       batch-mode ``minhash_lsh_candidates`` -- buckets over
       ``max_probe_bucket`` ids emit O(b) star pairs, never O(b^2)
       all-pairs, so a boilerplate-heavy micro-batch stays linear) ->
       signature-verified pairs (>= sim_threshold of the n minhashes
       agree, the unbiased Jaccard estimate) -> connected components
       -> min-id canonical per cluster. Cluster members ride their
       canonical's verdict, mirroring the exact path's min-id rule.
    3. Cross-batch probe, the scale-critical joins: the bands ledger is
       the LEFT of a left_semi against the BROADCAST batch band keys
       (one bands scan, ZERO ledger shuffle -- plan-pinned in
       test_plan_shapes.py), capped at ``max_probe_bucket`` existing
       docs per (band, band_key) so a boilerplate bucket cannot blow
       up the candidate set (star-cap precedent from
       minhash_lsh_candidates); then the signature ledger is probed the
       same way for exactly the candidate ids (one minhash scan, zero
       shuffle, output <= candidates).
    4. Verify candidates by signature agreement; canonicals with a
       verified corpus match are dropped, whole cluster. When
       ``dupes_table`` is given, EVERY dropped row lands there with
       ``matched_id`` naming the surviving corpus row: the corpus
       witness for cross-matched canonicals, and for within-batch
       cluster members their admitted canonical -- or, when the
       canonical itself cross-matched, its corpus witness (r13
       ADVICE: members previously dropped with no lineage).
    5. ONE warehouse transaction: surviving rows -> corpus, their band
       keys -> bands, their signatures -> minhash, plus
       ``extra_appends`` -- same crash-atomicity argument as the digest
       ledger (a band row without its doc would silently eat future
       near-copies of a document that was never admitted).

    100 TB posture: every shuffle in the plan is batch-sized; the
    per-batch floor is one scan of each sidecar. ``n_sidecar_parts``
    (opt-in) PARTITIONS both sidecars by a hash bucket of their probe
    key (``pmod(xxhash64(band_key | id), parts)``) and each probe then
    collects its batch-sized bucket set and filters ``__bucket IN
    (...)`` BEFORE the semi join -- the scan PARTITION-PRUNES
    (plan-pinned PartitionFilters) so the floor drops to
    buckets-touched/parts of the ledger. Opt-in because the pruning
    pays a FIXED per-batch driver cost (two bucket-set collects +
    partition listing + multi-file pruned reads) that only amortizes
    once the sidecar scan dominates: measured at parts=512 with
    100-doc batches (tools/scale_probe_neardup_xl.py, SCALE.md r11),
    the bucketed apply is flat in ledger size while the flat layout's
    scan term takes over around ~2M signed docs (flat 5.9s -> 21.8s
    from 1M -> 3M vs bucketed ~14s at every size). Rule: leave OFF
    below ~1M signed docs, opt in beyond a couple million, and size
    ``n_sidecar_parts`` well ABOVE the per-batch probe-key count or
    the <=0.8 bucket-coverage gate disables pruning entirely. The
    layout is fixed at FIRST ingest and mismatched calls fail loudly.

    ``monitor_table`` (opt-in, r13) lands the over-cap band-bucket
    audit (``lsh_hot_bucket_stats`` semantics, computed on the same
    pinned bands frame the candidate join reads) in the SAME
    transaction -- corpus-wide saturation there is the
    boilerplate-pre-filter signal; healthy batches append zero rows.
    Returns counts:
    {n_batch, n_unsigned, n_within_dups, n_cross_dups, n_new}.

    Precondition: ``id_col`` is unique WITHIN the batch (two rows
    sharing an id would pool their shingles into one signature).
    Feeds that can repeat ids should exact-dedup on id first --
    ``dedup_exact``'s min-id rule, or the digest ledger for
    byte-identical resubmissions.
    """
    from ..functions.dedup import (
        _over_cap_buckets,
        band_pair_candidates,
        lsh_band_keys_wide,
        minhash_signatures_wide,
    )

    bands_table = f"{corpus_table}.bands"
    sig_table = f"{corpus_table}.minhash"
    seeds = [f"g{i}" for i in range(num_hashes)]

    # NULL text propagates a NULL shingle through the hash chain and
    # would land a NULL-signature ledger row (never matchable, pure
    # pollution): a doc is "signed" only with a real signature
    wide = (
        minhash_signatures_wide(batch, text_col, id_col, num_hashes, shingle_k)
        .filter(F.col("g0").isNotNull())
        .localCheckpoint(eager=True)
    )
    signed_ids = wide.select(id_col)
    unsigned = batch.join(signed_ids, id_col, "left_anti")
    n_batch = batch.count()
    n_unsigned = unsigned.count()

    def _sim_pairs(pairs: DataFrame, left_sigs: DataFrame, right_sigs: DataFrame):
        """pairs (id_a, id_b) + both signature tables -> pairs whose
        minhash agreement clears the threshold. All inputs bounded."""
        a = left_sigs.select(
            F.col(id_col).alias("id_a"), *[F.col(s).alias(f"a_{s}") for s in seeds]
        )
        b = right_sigs.select(
            F.col(id_col).alias("id_b"), *[F.col(s).alias(f"b_{s}") for s in seeds]
        )
        matches = sum(
            F.when(F.col(f"a_{s}") == F.col(f"b_{s}"), 1).otherwise(0)
            for s in seeds
        )
        need = int(sim_threshold * num_hashes + 0.999999)
        return (
            pairs.join(a, "id_a").join(b, "id_b")
            .withColumn("__m", matches)
            .filter(F.col("__m") >= need)
            .select("id_a", "id_b")
        )

    # -- within-batch collapse ------------------------------------------
    # Candidate pairs via the SAME hot-bucket-star-capped generator as
    # batch-mode LSH (band_pair_candidates): an uncapped band-key
    # self-join goes O(n^2) on a boilerplate-heavy micro-batch (one
    # band key shared by most of the batch -- template pages, empty
    # docs, the classic landing-zone poison). The cap is the SAME
    # recall trade batch-mode minhash_lsh_candidates accepts (see
    # dedup.band_pair_candidates): in a genuinely-duplicate hot bucket
    # the star edges pass signature verification and CC transitivity
    # keeps the min-id canonical identical (skewed-batch pin in
    # test_r11_neardup_cap.py); in a bucket hot from a band COLLISION
    # among non-duplicates, a member-member near-dup pair can be
    # missed when its rep edge fails verification -- witness choice
    # plus bounded recall loss on adversarial collision buckets.
    # max_probe_bucket is the one hot-bucket knob for both sides of
    # this function.
    bands = lsh_band_keys_wide(wide, id_col, band_size).localCheckpoint(eager=True)
    # over-cap band-bucket audit (r13, back-ported from the media
    # zone's monitor sidecar): computed on the SAME pinned bands frame
    # the candidate join reads, landed in the SAME transaction below --
    # corpus-wide saturation here is the boilerplate pre-filter signal
    # (`lsh_hot_bucket_stats` semantics: star fallback emits n-1 pairs)
    monitor = None
    if monitor_table is not None:
        monitor = _over_cap_buckets(bands, max_probe_bucket).localCheckpoint(eager=True)
    within_cand = band_pair_candidates(
        bands, id_col=id_col, max_bucket_size=max_probe_bucket
    )
    within = _sim_pairs(within_cand, wide, wide).localCheckpoint(eager=True)
    canon_ids, dup_members, n_within_dups = _collapse_within(within, signed_ids, id_col)
    canon_sigs = wide.join(canon_ids, id_col, "left_semi")

    # sidecar partition buckets (opt-in): the probe collects its
    # (batch-sized) bucket set and the scan partition-prunes to those
    use_buckets = n_sidecar_parts is not None
    band_bucket = id_bucket = None
    if use_buckets:
        band_bucket = F.pmod(F.xxhash64(F.col("band_key")), F.lit(n_sidecar_parts))
        id_bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_sidecar_parts))
    _check_layout(wh, (bands_table, sig_table), n_sidecar_parts)

    # -- cross-batch probe ----------------------------------------------
    cross_dup_canon = None
    matched = None
    if wh.exists(bands_table):
        canon_bands = bands.join(canon_ids, id_col, "left_semi")
        probe_keys = canon_bands.select("band", "band_key").distinct().localCheckpoint(
            eager=True
        )  # read twice: bucket-set collect + the broadcast semi
        hits = _probe_sidecar(
            wh, bands_table, probe_keys, ["band", "band_key"], band_bucket, n_sidecar_parts
        )
        # hot-bucket cap: at most max_probe_bucket existing docs verify
        # per bucket (deterministic min-id order); a verified near-dup
        # only needs ONE corpus witness, so the cap trades nothing but
        # witness choice
        from pyspark.sql import Window

        w = Window.partitionBy("band", "band_key").orderBy(id_col)
        hits = (
            hits.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_probe_bucket)
            .drop("__rn")
        )
        cand = (
            canon_bands.select(F.col(id_col).alias("id_a"), "band", "band_key")
            .join(
                hits.select(F.col(id_col).alias("id_b"), "band", "band_key"),
                ["band", "band_key"],
            )
            .select("id_a", "id_b")
            .distinct()
            .localCheckpoint(eager=True)
        )
        cand_ids = cand.select(F.col("id_b").alias(id_col)).distinct()
        corpus_sigs = _probe_sidecar(
            wh, sig_table, cand_ids, [id_col], id_bucket, n_sidecar_parts
        )
        verified = _sim_pairs(cand, wide, corpus_sigs)
        matched = verified.groupBy("id_a").agg(F.min("id_b").alias("matched_id"))
        cross_dup_canon = matched.select(F.col("id_a").alias(id_col))
    n_cross_dups = cross_dup_canon.count() if cross_dup_canon is not None else 0

    keep_canon = (
        canon_ids
        if cross_dup_canon is None
        else canon_ids.join(cross_dup_canon, id_col, "left_anti")
    )
    new_rows = batch.join(keep_canon, id_col, "left_semi").unionByName(unsigned)
    new_bands = bands.join(keep_canon, id_col, "left_semi")
    new_sigs = canon_sigs.join(keep_canon, id_col, "left_semi")
    if use_buckets:
        # one batch-sized shuffle per sidecar so each append writes ONE
        # file per touched bucket, not one per (input partition x
        # bucket) -- the partitioned layout would otherwise multiply
        # small-file pressure by the batch's partition count
        new_bands = new_bands.withColumn("__bucket", band_bucket).repartition(
            "__bucket"
        )
        new_sigs = new_sigs.withColumn("__bucket", id_bucket).repartition(
            "__bucket"
        )

    # an empty monitor frame still creates its table at FIRST ingest, not
    # first saturation: empty always means healthy, never monitoring-off
    # (r13 review fix)
    counts = _commit(wh, [
        (corpus_table, new_rows),
        (bands_table, new_bands),
        (sig_table, new_sigs),
        *_dupes_appends(dupes_table, batch, matched, dup_members, id_col),
        *([(monitor_table, monitor)] if monitor is not None else []),
        *(extra_appends or []),
    ])
    return {
        "n_batch": n_batch,
        "n_unsigned": n_unsigned,
        "n_within_dups": n_within_dups,
        "n_cross_dups": n_cross_dups,
        "n_new": counts[0],
    }


def jsonl_neardup_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    wh,
    corpus_table: str,
    quarantine_table: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sim_threshold: float = 0.75,
    dupes_table: str | None = None,
    maintenance_every: int = 0,
    maintenance_kwargs: dict | None = None,
    n_sidecar_parts: int | None = None,
    ndv_cols: list[str] | None = None,
    monitor_table: str | None = None,
):
    """Near-dup-deduplicating JSONL landing zone: the ingest front door
    composed with ``neardup_ingest_apply``, so a re-crawl that differs
    only by boilerplate never enters the corpus twice. Same
    transactional spine as ``jsonl_dedup_ingest_stream``: per batch,
    typed survivors + band/signature ledger rows + quarantined lines +
    the replay guard land in ONE warehouse transaction (replayed
    batches are exact no-ops); the optional maintenance cadence
    compacts the corpus and both sidecars post-commit. ``ndv_cols``
    maintains the ingest-offered NDV ledger post-commit, same grain
    and crash argument as the exact-dedup zone."""
    from ..sources import split_jsonl_lines

    def land(batch_df, batch_id):
        def stage(ledger_row):
            typed, quarantined = split_jsonl_lines(batch_df.localCheckpoint(), schema)
            neardup_ingest_apply(
                wh, corpus_table, typed, text_col, id_col,
                sim_threshold=sim_threshold,
                dupes_table=dupes_table,
                n_sidecar_parts=n_sidecar_parts,
                monitor_table=monitor_table,
                extra_appends=[(quarantine_table, quarantined), *ledger_row],
            )
            return typed

        return _land(wh, corpus_table, batch_id, stage)

    return _zone_stream(
        spark.readStream.text(source_dir), wh, checkpoint_dir, land,
        hooks=_ndv_hooks(wh, corpus_table, ndv_cols),
        maintain=(corpus_table, f"{corpus_table}.bands", f"{corpus_table}.minhash"),
        maintenance_every=maintenance_every,
        maintenance_kwargs=maintenance_kwargs,
    )


def jsonl_semdecon_ingest_apply(
    wh,
    clean_table: str,
    contaminated_table: str,
    quarantine_table: str,
    schema: T.StructType,
    index_wh,
    index_name: str,
    batch_df,
    batch_id: int,
    threshold: float = 0.85,
    n_probes: int = 4,
    text_col: str = "text",
) -> dict:
    """One micro-batch of the SEMANTIC decontaminating landing zone
    (r12): the paraphrase-grade twin of ``jsonl_decontam_ingest_apply``
    -- where the Bloom zone catches verbatim n-gram leaks, this one
    embeds each typed row under the persisted chunk index's FROZEN
    geometry (``semsearch.semantic_decontaminate``) and routes rows
    whose text lands cosine >= ``threshold`` against any indexed chunk
    to ``contaminated_table``. Three-way split in ONE warehouse
    transaction with the same exactly-once batch ledger.

    Routing keys on a checkpoint-pinned synthetic row key (the quality
    -gate rule): every row routes by its OWN text, so NULL or
    colliding source ids cannot misfile rows. Rows with no flags --
    including zero-token texts, which embed to nothing -- are CLEAN:
    unlike the quality gate (where no evidence means reject), absence
    of contamination evidence is the pass condition here, exactly as
    in the Bloom zone.

    Recall contract is the operator's IVF one (a contaminated chunk in
    an unprobed cell is missed; ``n_probes`` is the knob, and the
    exact Bloom zone remains the backstop for verbatim leaks). The
    index is read-only here: run ``ingest_chunks`` / rebuilds on their
    own schedule; a mid-stream index REBUILD changes the geometry and
    therefore verdicts -- rebuild between stream runs, not under one.

    Per batch the gate costs one embed pass + one cell-pruned probe of
    the index, both batch-sized; the ledger is never touched by it."""
    from ..functions.semsearch import semantic_decontaminate
    from ..sources import split_jsonl_lines

    def stage(ledger_row):
        typed, quarantined = split_jsonl_lines(batch_df.localCheckpoint(), schema)
        keyed = typed.withColumn(
            "__srk", F.monotonically_increasing_id()
        ).localCheckpoint()
        flags = semantic_decontaminate(
            index_wh, index_name,
            keyed.select("__srk", text_col),
            threshold=threshold, n_probes=n_probes,
            eval_id_col="__srk", text_col=text_col,
        ).select(F.col("eval_id").alias("__srk")).distinct()
        return _commit(wh, [
            (clean_table, keyed.join(flags, "__srk", "left_anti").drop("__srk")),
            (contaminated_table, keyed.join(flags, "__srk", "left_semi").drop("__srk")),
            (quarantine_table, quarantined),
            *ledger_row,
        ])

    return _zone_counts(
        ("clean", "contaminated", "quarantined"),
        _land(wh, clean_table, batch_id, stage),
    )


def jsonl_semdecon_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    wh,
    clean_table: str,
    contaminated_table: str,
    quarantine_table: str,
    checkpoint_dir: str,
    index_wh,
    index_name: str,
    threshold: float = 0.85,
    n_probes: int = 4,
    text_col: str = "text",
):
    """Streaming SEMANTIC decontaminating landing zone: the JSONL
    front door composed with chunk-index semantic decontamination, so
    paraphrase-grade benchmark leaks (which share no grams with their
    source and sail through the Bloom zone) route to the contaminated
    audit table as they ARRIVE. Run it beside (not instead of) the
    Bloom zone: exact backstop + semantic net is the full
    decontamination posture. State is only the file-source log; the
    per-batch cost is one embed pass + one pruned index probe."""

    def land(batch_df, batch_id):
        return jsonl_semdecon_ingest_apply(
            wh, clean_table, contaminated_table, quarantine_table, schema,
            index_wh, index_name, batch_df, batch_id,
            threshold=threshold, n_probes=n_probes, text_col=text_col,
        )

    return _zone_stream(spark.readStream.text(source_dir), wh, checkpoint_dir, land)


def _media_chunk_keys(hashes: DataFrame, n_chunks: int = 8) -> DataFrame:
    """Pigeonhole chunk keys for a media hash frame: input rows
    (media_id, media_type, frame_no, mhash) explode to one row per
    chunk position with the chunk's value -- the SAME bit math as
    ``dedup.hamming_chunk_pairs`` (64-bit hash, ``n_chunks`` equal
    chunks), factored here because the media ledger PERSISTS these
    rows (the probe-side sidecar, exactly as the MinHash zone persists
    band keys) instead of recomputing them per probe."""
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1
    return hashes.select(
        "media_id",
        "media_type",
        "frame_no",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("pos"),
                        F.expr(f"shiftright(mhash, {i * chunk_bits})")
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(
        "media_id", "media_type", "frame_no",
        F.col("c.pos").alias("pos"), F.col("c.val").alias("val"),
    )


def media_sidecar_parts_rule(
    ledger_chunk_rows: int,
    batch_media: int,
    avg_frames: float = 1.0,
    n_chunks: int = 8,
    n_media_types: int = 3,
    coverage_gate: float = 0.8,
    min_parts: int = 512,
    max_parts: int = 2048,
) -> int | None:
    """Parts-sizing rule for ``media_ingest_apply(n_sidecar_parts=)``,
    the media counterpart of the text zone's decision table (r13
    VERDICT directive 4) -- every constant below is MEASURED
    (tools/scale_probe_media_zone_xl.py, SCALE.md r13):

    | ledger chunk rows | layout            | steady apply (100-media batch) |
    |-------------------|-------------------|--------------------------------|
    | 228k (5k media)   | flat              | 9.4s  -- flat WINS             |
    | 228k              | bucketed 512      | 14.9s -- fixed overhead, no win|
    | 22.5M (500k media)| flat              | 37.2s -- scan term ~27s        |
    | 22.5M             | bucketed 512      | 26.8s -- crossover, 28% off    |
    | 22.5M             | bucketed 8192     | 101.6s -- METADATA STORM       |

    Rule encoded here:

    1. Below ~10M chunk rows return None -- flat wins outright; the
       pruning's fixed per-batch cost (bucket-set collects + partition
       listing) buys nothing while the sidecar scan is cheap.
    2. Above, return the smallest power-of-two parts in
       [min_parts, max_parts] whose EXPECTED batch bucket coverage
       stays under the apply's ``coverage_gate`` (the <=0.8 test that
       actually enables pruning): hashing K probe keys into P buckets
       hits ~P*(1-(1-1/P)^K) of them. The media-specific correction
       the text rule needs: chunk keys live in a FIXED space of
       n_media_types * n_chunks * 2^(64//n_chunks) points (6,144 for
       the default 8x8-bit chunks -- NOT unbounded like text band-key
       hashes) and arrive ~45x faster than media rows (frames x 8
       positions), so K = min(batch_media * avg_frames * n_chunks,
       key_space) saturates coverage at much smaller batches than text
       band keys ever do. Measured at the crossover: a 100-media batch
       probes 714 distinct keys -> 392/512 buckets = 0.77 coverage,
       barely under the gate.
    3. ``max_parts`` pins the metadata-storm boundary: 8192 partition
       directories measured 3x SLOWER than flat at 22.5M rows (listing
       + ~700 tiny files per append dominate) -- parts stays
       O(hundreds-to-2k) on this warehouse layout.
    4. None when even ``max_parts`` cannot clear the gate: the batch
       saturates the key space, pruning can never engage, and the
       right fix is SMALLER BATCHES, not more parts.

    Advisory (the layout is still fixed at first ingest and mismatched
    calls fail loudly); compute it from the corpus's expected steady
    state, not the first batch."""
    key_space = n_media_types * n_chunks * (1 << (64 // n_chunks))
    probe_keys = min(int(batch_media * avg_frames * n_chunks), key_space)
    if ledger_chunk_rows < 10_000_000:
        return None
    parts = min_parts
    while parts <= max_parts:
        expected_buckets = parts * (1.0 - (1.0 - 1.0 / parts) ** probe_keys)
        if expected_buckets <= coverage_gate * parts:
            return parts
        parts *= 2
    return None  # key space saturated: shrink batches, don't grow parts


def media_ingest_apply(
    wh,
    corpus_table: str,
    batch: DataFrame,
    max_hamming: int = 6,
    n_chunks: int = 8,
    max_probe_bucket: int = 256,
    min_shared_frames: int = 2,
    max_frames: int = 16,
    min_spread: int = 0,
    dupes_table: str | None = None,
    monitor_table: str | None = None,
    extra_appends: list | None = None,
    n_sidecar_parts: int | None = None,
    rejected_table: str | None = None,
    min_bytes: int | None = None,
    reject_unsigned: bool = False,
    decode_rules: dict | None = None,
    embed_index: str | None = None,
) -> dict:
    """Cross-batch perceptual-hash media dedup against a persisted
    hash ledger: the MEDIA twin of ``neardup_ingest_apply`` (r12
    VERDICT directive 5) -- "is this image/audio/video a near-copy of
    ANYTHING ever ingested", answered per micro-batch without a
    corpus-scale join. Batch rows carry the MEDIA_SCHEMA shape
    (media_id, media_type, payload, meta...).

    Ledger = two sidecar tables mirroring the MinHash zone's
    bands/minhash split: ``<corpus>.phash`` (media_id, media_type,
    frame_no, mhash -- ``multimodal.media_hash_rows`` output: image
    dHash / audio envelope fingerprint at frame_no 0, video frame
    dHashes) is the VERIFY side; ``<corpus>.chunks`` (its pigeonhole
    chunk keys, pre-exploded at ingest) is the PROBE side.

    Per batch (all heavy frames batch-sized; caller pins the batch):

    1. One Arrow hash pass (``media_hash_rows``). Rows yielding NO
       hash row -- NULL/empty payloads, sub-``min_spread`` flat media,
       unknown types -- cannot be near-dup checked: admitted WITHOUT
       ledger rows and counted (``n_unsigned``), the same convention
       as the text zone's unsigned docs (flipped by
       ``reject_unsigned``, below).
    2. Within-batch collapse: per media type, the shared capped
       pigeonhole join (``dedup.hamming_chunk_pairs``) over packed
       (media, frame) keys, then the evidence rollup -- a pair is a
       near-dup when >= ``min_shared_frames`` distinct frame pairs
       agree for video, >= 1 for image/audio (their single hash row IS
       the evidence) -> connected components -> min-id canonical per
       cluster; members ride their canonical's verdict.
    3. Cross-batch probe, the scale-critical joins: the chunks ledger
       is the LEFT of a left_semi against the BROADCAST batch chunk
       keys (media_type, pos, val) -- one chunks scan, ZERO ledger
       shuffle -- capped at ``max_probe_bucket`` existing frames per
       key (blank/constant media is the hot-bucket poison; cap
       saturation is monitorable via ``dedup.hamming_bucket_stats``
       over the same frame). Then the phash ledger is probed the same
       way for exactly the candidate media ids (one phash scan, zero
       shuffle, output <= candidates).
    4. Verify candidates by hamming(mhash_a, mhash_b) <= ``max_hamming``
       and the per-type evidence threshold; canonicals with a verified
       corpus match are dropped, whole cluster. When ``dupes_table``
       is given, EVERY dropped row lands there with ``matched_id``
       naming the surviving corpus row: the corpus witness for
       cross-matched canonicals, and for within-batch cluster members
       their admitted canonical -- or, when the canonical itself
       cross-matched, its corpus witness (r13 ADVICE: members
       previously dropped with no lineage).
    5. ONE warehouse transaction: surviving rows -> corpus, their hash
       rows -> phash, their chunk keys -> chunks, plus
       ``extra_appends`` -- the crash-atomicity argument of the text
       ledgers (a chunk row without its media row would eat future
       near-copies of media that was never admitted).

    Quality gate (opt-in, r14 -- the media twin of the text zone's):
    ``min_bytes`` rejects NULL/tiny payloads BEFORE the hash pass
    (tracking pixels, truncated files -- they never reach the ledger),
    and ``reject_unsigned`` flips the unsigned convention: unhashable
    rows route to ``rejected_table`` for audit instead of being
    admitted unchecked -- a curated corpus should not contain media
    the dedup posture can never protect. Rejected rows land
    VERBATIM-typed plus a ``reject_reason`` column ('min_bytes' |
    'unsigned' | 'decode:<rule>') in the SAME transaction; the table
    is created at first gated ingest so empty always means healthy,
    never gate-off. Setting any knob without ``rejected_table`` raises
    (a silently disabled gate is a quiet data-quality failure -- the
    text zone's rule). Gate off (default) = bitwise-legacy behavior.
    Adds ``n_rejected`` to the returned counts when on.

    ``decode_rules`` (opt-in, r15 -- the media counterpart of the text
    zone's Gopher-rule posture): structural floors checked in ONE
    extra Arrow pass through the ``decode_media`` seam
    (stub-deterministic here; real codecs swap in at the documented
    seam and nothing else changes). Supported keys: ``min_width`` /
    ``min_height`` (apply only where the decode REPORTS a dimension --
    audio's NULL dims are not a failure, the per-applicable-type
    rule) and ``min_frames`` (frame/duration floor for TIME-BASED
    media -- audio/video; a static image is one frame by
    construction, not a too-short clip). Failing rows reject with
    reason
    ``decode:<first-failing-rule>`` BEFORE the hash pass, so
    sub-floor media never reaches the ledger or the corpus. Unknown
    rule keys raise (a typo'd floor silently gating nothing is the
    same quiet failure the rejected_table rule exists for).

    ``embed_index`` (opt-in, r15): name of a PRE-BUILT IVF index --
    each batch's ADMITTED rows embed through the ``embed_media`` seam,
    assign against the index's frozen codebook (geometry from its own
    build_config), and the assignment rows commit in the SAME
    transaction as the corpus append: the zone maintains a searchable
    cross-modal index incrementally, per ingest, zero rebuild scans.
    Idempotent by id; drift ownership = the rebuild schedule
    (``append_to_ivf_index``'s documented posture).

    ``monitor_table`` (opt-in) lands the over-cap bucket audit
    (``dedup.hamming_bucket_stats`` per family, run beside the pair
    joins on the SAME batch hash frame) in the SAME transaction:
    corpus-wide saturation there is the blank-media pre-filter signal
    (set ``min_spread``) or the pay-the-cap signal, per the measured
    regime discrimination in SCALE.md r13. Zero rows on healthy
    batches.

    100 TB posture: every shuffle is batch-sized; the per-batch floor
    is one scan of each sidecar. ``n_sidecar_parts`` (opt-in) is the
    MinHash zone's partition-pruning pattern applied here: both
    sidecars partition by a hash bucket of their probe key (chunks by
    ``pmod(xxhash64(media_type, pos, val), parts)``, phash by
    ``pmod(xxhash64(media_id), parts)``), each probe collects its
    batch-sized bucket set and filters ``__bucket IN (...)`` BEFORE
    the semi join, so the scan PARTITION-PRUNES and the floor drops to
    buckets-touched/parts of the ledger. The cost model and the <=0.8
    bucket-coverage gate are the text zone's (measured at
    ``neardup_ingest_apply`` / SCALE.md r11) -- but media sidecars
    cross every line EARLIER because a video contributes up to
    max_frames hash rows and 8x that many chunk rows, AND chunk keys
    live in a fixed 6,144-point space that saturates the coverage
    gate at much smaller batches than text band keys. Size the knob
    with ``media_sidecar_parts_rule`` (the measured decision table:
    flat below ~10M chunk rows, O(hundreds) parts at the 22.5M
    crossover, never the metadata-storm regime). The layout is fixed
    at FIRST ingest; mismatched calls fail loudly.

    Returns {n_batch, n_unsigned, n_within_dups, n_cross_dups, n_new}.
    Precondition: ``media_id`` unique within the batch AND >= 0
    (enforced per batch in the same pass as the batch count; a
    negative id would mis-decode under the packed-key truncating div
    -- see the ``video_near_dup_pairs`` precondition).

    The hash KEY SPACE (n_chunks, max_frames, min_spread) is fixed at
    first ingest and pinned in a ``<corpus>.hashcfg`` row: a later call
    with different knobs would compute batch keys in a different space
    than the persisted ledger and silently admit every near-copy
    (zero probe hits), so mismatched calls fail loudly instead --
    the same first-ingest-fixes-the-layout rule as n_sidecar_parts."""
    from ..functions.dedup import hamming_chunk_pairs
    from ..functions.multimodal import (
        _FRAME_SHIFT,
        _MAX_PACKABLE_ID,
        media_hash_rows,
    )

    if max_frames >= _FRAME_SHIFT:
        raise ValueError(f"max_frames must be < {_FRAME_SHIFT}")
    if decode_rules:
        unknown = set(decode_rules) - {"min_width", "min_height", "min_frames"}
        if unknown:
            raise ValueError(
                f"decode_rules has unknown rule keys {sorted(unknown)}; "
                "supported: min_width, min_height, min_frames"
            )
    if (
        min_bytes is not None or reject_unsigned or decode_rules
    ) and rejected_table is None:
        # a silently-disabled gate is a quiet data-quality failure in
        # a landing zone (the text zone's r12 ADVICE rule, applied here)
        raise ValueError(
            "min_bytes/reject_unsigned/decode_rules set but rejected_table "
            "is None; the media quality gate needs a rejected_table to "
            "route failures to"
        )
    gate_on = rejected_table is not None and (
        min_bytes is not None or reject_unsigned or bool(decode_rules)
    )
    if embed_index is not None and (
        not wh.exists(f"{embed_index}.build_config")
        or not wh.read(f"{embed_index}.build_config").collect()
    ):
        # validated at the front door, BEFORE any zone table is
        # created: a missing index must leave no state behind
        raise ValueError(
            f"embed_index {embed_index!r} has no build_config row -- "
            "build it with build_ivf_index first"
        )
    id_col = "media_id"  # the MEDIA_SCHEMA key media_hash_rows emits
    phash_table = f"{corpus_table}.phash"
    chunks_table = f"{corpus_table}.chunks"
    cfg_table = f"{corpus_table}.hashcfg"
    cfg = {
        "n_chunks": n_chunks,
        "max_frames": max_frames,
        "min_spread": min_spread,
    }
    # Guard on ROW presence, not table existence (r13 ADVICE): the cfg
    # table is created OUTSIDE the ingest transaction, so a crash
    # between create_table and the txn commit leaves it existing but
    # EMPTY. Keying the guard off exists() would then (a) IndexError
    # every retry on collect()[0] and (b) never append the pin row
    # again, permanently disabling the key-space guard. An empty cfg
    # table instead means "first successful ingest still pending": the
    # retry validates nothing (there is no committed ledger state to
    # protect) and re-stages the pin row into the same transaction.
    cfg_pinned = False
    if wh.exists(cfg_table):
        cfg_rows = wh.read(cfg_table).collect()
        if cfg_rows:
            stored = {k: cfg_rows[0].asDict()[k] for k in cfg}
            if stored != cfg:
                raise ValueError(
                    f"{corpus_table} hashing-config mismatch: the ledger was "
                    f"built with {stored} but this call passed {cfg}; the hash "
                    "key space is fixed at first ingest"
                )
            cfg_pinned = True

    # quality gate stage 1 (opt-in): byte-floor rejection BEFORE the
    # hash pass -- tiny/NULL payloads (tracking pixels, truncated
    # files) never reach the ledger or the corpus
    rejected_parts = []
    gated = batch
    if min_bytes is not None:
        too_small = F.col("payload").isNull() | (
            F.octet_length("payload") < min_bytes
        )
        rejected_parts.append(
            batch.filter(too_small).withColumn(
                "reject_reason", F.lit("min_bytes")
            )
        )
        gated = batch.filter(~too_small)

    # quality gate stage 1b (opt-in, r15): structural decode floors --
    # one Arrow pass through the decode_media seam via the SHARED rule
    # kernel (multimodal.media_decode_rule_verdicts: the oracle-
    # replayed verdict and this gate are the same code); the reject
    # reason names the FIRST failing rule for audit
    if decode_rules:
        from ..functions.multimodal import media_decode_rule_verdicts

        bad = (
            media_decode_rule_verdicts(gated, decode_rules)
            .select(id_col, F.col("rule").alias("__rule"))
            .filter(F.col("__rule").isNotNull())
            .localCheckpoint(eager=True)
        )
        rejected_parts.append(
            gated.join(bad, id_col)
            .withColumn(
                "reject_reason",
                F.concat(F.lit("decode:"), F.col("__rule")),
            )
            .drop("__rule")
        )
        gated = gated.join(bad.select(id_col), id_col, "left_anti")

    hashes = media_hash_rows(
        gated, max_frames=max_frames, min_spread=min_spread
    ).localCheckpoint(eager=True)
    signed_ids = hashes.select(id_col).distinct()
    unsigned = gated.join(signed_ids, id_col, "left_anti")
    # one agg pass doubles as the media_id range guard (r13 + r14
    # ADVICE): a negative id would mis-decode under the packed-key
    # truncating div, and an id past _MAX_PACKABLE_ID (2^43 - 1)
    # silently WRAPS the non-ANSI packed multiply
    # (video_near_dup_pairs docstring) -- either corrupts same-video
    # filtering, so reject the batch before any ledger state changes
    stats_row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
    ).first()
    n_batch = stats_row["n"]
    if n_batch and stats_row["min_id"] < 0:
        raise ValueError(
            f"media_ingest_apply requires {id_col} >= 0 (got "
            f"{stats_row['min_id']}): negative ids mis-decode under the "
            f"packed media_id*{_FRAME_SHIFT}+frame_no pair key"
        )
    if n_batch and stats_row["max_id"] > _MAX_PACKABLE_ID:
        raise ValueError(
            f"media_ingest_apply requires {id_col} <= {_MAX_PACKABLE_ID} "
            f"(got {stats_row['max_id']}): ids past 2^43-1 wrap the "
            f"packed media_id*{_FRAME_SHIFT}+frame_no pair key (non-ANSI "
            f"long multiply) -- renumber with "
            f"pmod(xxhash64(...), 1 << 43) first"
        )
    n_unsigned = unsigned.count()
    # quality gate stage 2 (opt-in): unhashable rows (NULL/empty
    # payloads, sub-min_spread flat media, unknown types) are rejected
    # for audit instead of admitted unchecked -- a curated corpus
    # should not contain media the dedup posture can never protect
    if reject_unsigned:
        rejected_parts.append(
            unsigned.withColumn("reject_reason", F.lit("unsigned"))
        )
        unsigned = unsigned.limit(0)  # nothing admitted unchecked

    def _evidence(pairs: DataFrame, mtype: str) -> DataFrame:
        """Frame-grain pairs (packed keys) -> media pairs clearing the
        per-type evidence threshold."""
        need = min_shared_frames if mtype == "video" else 1
        vids = pairs.select(
            F.expr(f"id_a div {_FRAME_SHIFT}").alias("va"),
            F.expr(f"id_b div {_FRAME_SHIFT}").alias("vb"),
            "id_a", "id_b",
        ).filter(F.col("va") != F.col("vb"))
        oriented = vids.select(
            F.least("va", "vb").alias("id_a"),
            F.greatest("va", "vb").alias("id_b"),
            F.least("id_a", "id_b").alias("fka"),
            F.greatest("id_a", "id_b").alias("fkb"),
        )
        return (
            oriented.groupBy("id_a", "id_b")
            .agg(F.countDistinct("fka", "fkb").alias("n"))
            .filter(F.col("n") >= need)
            .select("id_a", "id_b")
        )

    # -- within-batch collapse (per type: hashes live in per-family
    # spaces, a numeric image-vs-audio hash agreement is meaningless) --
    within_parts = []
    monitor_parts = []
    for mtype in ("image", "audio", "video"):
        keyed = hashes.filter(F.col("media_type") == mtype).select(
            (F.col(id_col) * _FRAME_SHIFT + F.col("frame_no")).alias("fk"),
            "mhash",
        )
        fpairs = hamming_chunk_pairs(
            keyed, "mhash", "fk",
            max_hamming=max_hamming, bits=64, n_chunks=n_chunks,
            max_bucket_size=max_probe_bucket,
        )
        within_parts.append(_evidence(fpairs, mtype))
        if monitor_table is not None:
            from ..functions.dedup import hamming_bucket_stats

            monitor_parts.append(
                hamming_bucket_stats(
                    keyed, "mhash", "fk",
                    n_chunks=n_chunks, max_bucket_size=max_probe_bucket,
                ).select(F.lit(mtype).alias("media_type"), "pos", "val", "n",
                         "pairs_exact", "pairs_suppressed")
            )
    within = within_parts[0].unionByName(within_parts[1]).unionByName(
        within_parts[2]
    ).localCheckpoint(eager=True)
    canon_ids, dup_members, n_within_dups = _collapse_within(within, signed_ids, id_col)
    canon_hashes = hashes.join(canon_ids, id_col, "left_semi").localCheckpoint(
        eager=True
    )
    canon_chunks = _media_chunk_keys(canon_hashes, n_chunks)

    # sidecar partition buckets (opt-in): each probe collects its
    # (batch-sized) bucket set and the scan partition-prunes to those
    use_buckets = n_sidecar_parts is not None
    chunk_bucket = id_bucket = None
    if use_buckets:
        chunk_bucket = F.pmod(
            F.xxhash64(F.col("media_type"), F.col("pos"), F.col("val")),
            F.lit(n_sidecar_parts),
        )
        id_bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_sidecar_parts))
    _check_layout(wh, (chunks_table, phash_table), n_sidecar_parts)

    # -- cross-batch probe ------------------------------------------
    matched = None
    cross_dup_canon = None
    if wh.exists(chunks_table):
        probe_keys = canon_chunks.select(
            "media_type", "pos", "val"
        ).distinct().localCheckpoint(eager=True)
        hits = _probe_sidecar(
            wh, chunks_table, probe_keys, ["media_type", "pos", "val"],
            chunk_bucket, n_sidecar_parts,
        )
        from pyspark.sql import Window

        w = Window.partitionBy("media_type", "pos", "val").orderBy(
            id_col, "frame_no"
        )
        hits = (
            hits.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_probe_bucket)
            .drop("__rn")
        )
        cand = (
            canon_chunks.select(
                F.col(id_col).alias("id_a"), F.col("frame_no").alias("fa"),
                "media_type", "pos", "val",
            )
            .join(
                hits.select(
                    F.col(id_col).alias("id_b"), F.col("frame_no").alias("fb"),
                    "media_type", "pos", "val",
                ),
                ["media_type", "pos", "val"],
            )
            .select("media_type", "id_a", "fa", "id_b", "fb")
            .distinct()
            .localCheckpoint(eager=True)
        )
        cand_ids = cand.select(F.col("id_b").alias(id_col)).distinct()
        if use_buckets:
            cand_ids = cand_ids.localCheckpoint(
                eager=True
            )  # read twice: bucket-set collect + the broadcast semi
        corpus_hashes = _probe_sidecar(
            wh, phash_table, cand_ids, [id_col], id_bucket, n_sidecar_parts
        )
        a = canon_hashes.select(
            F.col(id_col).alias("id_a"), F.col("frame_no").alias("fa"),
            F.col("mhash").alias("h_a"),
        )
        b = corpus_hashes.select(
            F.col(id_col).alias("id_b"), F.col("frame_no").alias("fb"),
            F.col("mhash").alias("h_b"),
        )
        verified = (
            cand.join(a, ["id_a", "fa"]).join(b, ["id_b", "fb"])
            .filter(
                F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))) <= max_hamming
            )
        )
        media_matches = (
            verified.groupBy("media_type", "id_a", "id_b")
            .agg(F.countDistinct("fa", "fb").alias("n"))
            .filter(
                F.col("n")
                >= F.when(
                    F.col("media_type") == "video", F.lit(min_shared_frames)
                ).otherwise(F.lit(1))
            )
        )
        matched = media_matches.groupBy("id_a").agg(
            F.min("id_b").alias("matched_id")
        )
        cross_dup_canon = matched.select(F.col("id_a").alias(id_col))
    n_cross_dups = cross_dup_canon.count() if cross_dup_canon is not None else 0

    keep_canon = (
        canon_ids
        if cross_dup_canon is None
        else canon_ids.join(cross_dup_canon, id_col, "left_anti")
    )
    new_rows = gated.join(keep_canon, id_col, "left_semi").unionByName(unsigned)
    new_hashes = canon_hashes.join(keep_canon, id_col, "left_semi")
    new_chunks = canon_chunks.join(keep_canon, id_col, "left_semi")
    if use_buckets:
        # one batch-sized shuffle per sidecar so each append writes ONE
        # file per touched bucket, not one per (input partition x
        # bucket) -- the text zone's small-file-pressure rule
        new_hashes = new_hashes.withColumn("__bucket", id_bucket).repartition(
            "__bucket"
        )
        new_chunks = new_chunks.withColumn("__bucket", chunk_bucket).repartition(
            "__bucket"
        )

    appends = [
        (corpus_table, new_rows),
        (phash_table, new_hashes),
        (chunks_table, new_chunks),
    ]
    if gate_on:
        # appended even when empty, so the table exists from the FIRST
        # gated ingest: empty means healthy, never gate-off (the
        # monitor-table precedent)
        rejected = rejected_parts[0]
        for rp in rejected_parts[1:]:
            rejected = rejected.unionByName(rp)
        appends.append((rejected_table, rejected))  # index 3: n_rejected
    if monitor_table is not None:
        # over-cap bucket audit rows (hamming_bucket_stats per family on
        # the SAME batch hash frame the pair joins read): corpus-wide
        # saturation here is the blank-media pre-filter signal measured
        # in SCALE.md r13 -- landed in the SAME transaction so a batch's
        # verdicts and its saturation evidence commit atomically. Most
        # batches emit ZERO rows; the table still exists from the FIRST
        # ingest, so empty means healthy, never monitoring-off.
        monitor = (
            monitor_parts[0]
            .unionByName(monitor_parts[1])
            .unionByName(monitor_parts[2])
        )
        appends.append((monitor_table, monitor))
    if embed_index is not None:
        # incremental cross-modal index maintenance (r15): the ADMITTED
        # rows embed through the one encoder seam, assign against the
        # index's FROZEN codebook (append_to_ivf_index's no-retrain
        # posture -- periodic rebuilds own distribution drift), and the
        # assignment rows land in the SAME transaction as the corpus
        # append, so the searchable index and the corpus can never
        # disagree about what was ingested. Geometry (dims / columns)
        # comes from the index's own build_config (checked at the front
        # door) -- never from caller knobs that could drift from the
        # stored codebook.
        import json as _json

        from ..functions.multimodal import embed_media
        from ..functions.similarity import _assign_against, with_quantized

        icfg = _json.loads(wh.read(f"{embed_index}.build_config").first()["config"])
        vecs = (
            embed_media(new_rows, dims=icfg["dims"])
            .filter(F.col("embedding").isNotNull())
            .select(
                F.col("media_id").alias(icfg["id_col"]),
                F.col("embedding").alias(icfg["vec_col"]),
            )
        )
        assigned = _assign_against(
            with_quantized(vecs, icfg["vec_col"]).select(
                F.col(icfg["id_col"]), "qvec", "qnorm"
            ),
            wh.read(f"{embed_index}.codebook"),
            icfg["id_col"],
        )
        # idempotent by id (append_to_ivf_index's global-probe rule):
        # a direct-apply retry appends nothing; stream replays already
        # short-circuit on the batch log before reaching here
        assigned = assigned.join(
            wh.read(f"{embed_index}.assignment").select(icfg["id_col"]),
            icfg["id_col"],
            "left_anti",
        ).localCheckpoint(eager=True)
        if not assigned.isEmpty():
            appends.append((f"{embed_index}.assignment", assigned))
    if not cfg_pinned:
        cfg_df = wh.spark.createDataFrame(
            [tuple(cfg.values())], schema=", ".join(f"{k} int" for k in cfg)
        )
        appends.append((cfg_table, cfg_df))
    appends += _dupes_appends(dupes_table, batch, matched, dup_members, id_col)
    counts = _commit(wh, appends + list(extra_appends or []))
    return {
        "n_batch": n_batch,
        "n_unsigned": n_unsigned,
        "n_within_dups": n_within_dups,
        "n_cross_dups": n_cross_dups,
        "n_new": counts[0],
        **({"n_rejected": counts[3]} if gate_on else {}),
    }


def media_zone_cluster_assignments(
    wh, corpus_table: str, dupes_table: str
) -> DataFrame:
    """Incremental media cluster assignments from the landing zone's
    OWN ledger (r14 VERDICT #7): the (media_id, cluster_id) frame
    ``multimodal.assemble_media_text_pairs`` consumes, read from state
    ``media_ingest_apply`` already maintains transactionally -- no
    corpus-scale re-hash, no batch ``media_dup_clusters`` call.

    The zone's dedup IS a clustering: surviving corpus rows are
    canonicals (cluster_id = own id), and every dropped row's
    ``dupes_table`` lineage names a SURVIVING corpus row (resolved at
    drop time -- within-batch members point at their admitted
    canonical or its corpus witness), so one sidecar read per side
    reconstructs the assignment. A media_id dropped by several
    resubmitted batches collapses to its min witness for determinism.

    Semantics note (documented divergence from batch
    ``media_dup_clusters``): the zone clustering is STAR-shaped --
    every member was VERIFIED against a retained row, because dropped
    rows leave no ledger hashes for later arrivals to chain through.
    Batch-mode connected components can merge A--B--C transitively
    even when A and C never directly agree; the zone requires each
    later copy to match a RETAINED row within ``max_hamming``. On
    direct-twin corpora (every copy derived from a retained original,
    the common crawl-dedup shape) the two coincide exactly -- pinned
    by tests/test_streaming_media.py's incremental-assembly leg.
    First-arrived canonicals equal batch min-id canonicals whenever
    ingest order is id-ascending.

    Scale shape: two column-pruned sidecar scans and one union --
    bounded by corpus + dupes rows, ZERO Arrow passes; assembly after
    this is the three narrow equi-joins it always was. This is the
    build-once / read-many contract: the expensive hashing happened at
    ingest, already paid."""
    return _zone_cluster_assignments(wh, corpus_table, dupes_table, "media_id")


def text_zone_cluster_assignments(
    wh, corpus_table: str, dupes_table: str
) -> DataFrame:
    """The text twin of ``media_zone_cluster_assignments`` over the
    MinHash zone's ledger (``neardup_ingest_apply`` with a
    ``dupes_table``): the (doc_id, cluster_id) frame
    ``assemble_media_text_pairs(text_clusters=...)`` and
    ``corpus.leakage_safe_split(clusters=...)`` consume -- so the
    facade's text-side leakage protection (r14 ADVICE) can ride zone
    state instead of a corpus-scale re-cluster. Same star-shaped
    semantics and scale shape as the media reader; the shared
    construction is the point (one lineage convention, two zones)."""
    return _zone_cluster_assignments(wh, corpus_table, dupes_table, "doc_id")


def media_zone_frame_costs(wh, corpus_table: str) -> DataFrame:
    """(media_id, n_frames) from the media zone's phash ledger -- the
    vision-token cost source ``corpus.pack_multimodal_sequences``
    consumes, read from state the ingest transaction already paid for
    (one hash row per sampled frame: images/audio 1, video up to
    max_frames): a zone-fed corpus plans interleaved packing with ZERO
    decode passes. Only SIGNED media appear (unsigned rows have no
    hashable structure and no ledger rows); link unsigned media at
    your own cost column or drop them upstream -- the planner fails
    loudly on a linked id with no cost row, by design."""
    return (
        wh.read(f"{corpus_table}.phash")
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )


def _zone_cluster_assignments(
    wh, corpus_table: str, dupes_table: str, id_col: str
) -> DataFrame:
    canon = wh.read(corpus_table).select(
        F.col(id_col), F.col(id_col).alias("cluster_id")
    )
    dropped = (
        wh.read(dupes_table)
        .groupBy(id_col)
        .agg(F.min("matched_id").alias("cluster_id"))
    )
    return canon.unionByName(dropped)


def media_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    wh,
    corpus_table: str,
    checkpoint_dir: str,
    dupes_table: str | None = None,
    maintenance_every: int = 0,
    maintenance_kwargs: dict | None = None,
    ndv_cols: list[str] | None = None,
    **apply_kwargs,
):
    """Streaming media landing zone: a parquet-file front door (media
    batches arrive as files of MEDIA_SCHEMA rows -- binary payloads
    don't ride JSONL) composed with ``media_ingest_apply``, so a
    re-upload of yesterday's image/audio/video -- byte-identical OR
    re-encoded within the perceptual-hash tolerance -- never enters the
    corpus twice. Same transactional spine as the text zones: per
    batch, surviving rows + both hash-ledger sidecars + the replay
    guard land in ONE warehouse transaction (replayed batches are
    exact no-ops); the optional maintenance cadence compacts the
    corpus and both sidecars post-commit."""

    def land(batch_df, batch_id):
        def stage(ledger_row):
            typed = batch_df.localCheckpoint()
            media_ingest_apply(
                wh, corpus_table, typed,
                dupes_table=dupes_table,
                extra_appends=ledger_row,
                **apply_kwargs,
            )
            return typed

        return _land(wh, corpus_table, batch_id, stage)

    return _zone_stream(
        spark.readStream.schema(schema).parquet(source_dir), wh, checkpoint_dir, land,
        hooks=_ndv_hooks(wh, corpus_table, ndv_cols),
        maintain=(corpus_table, f"{corpus_table}.phash", f"{corpus_table}.chunks"),
        maintenance_every=maintenance_every,
        maintenance_kwargs=maintenance_kwargs,
    )
