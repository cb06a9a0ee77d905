"""The landing-zone contract, checked for each of the six transactional
zones in streaming/jobs.py:

- a micro-batch replayed under an already-committed batch id (a fresh
  checkpoint over the same feed renumbers it 0, as after a crash
  between the warehouse commit and the checkpoint write) changes no
  data file and no commit of any zone table;
- with ``maintenance_every=1`` every table the zone maintains is
  compacted after a committed batch. The plain/gated and semantic
  decontam zones take no maintenance options, so only the other four
  are checked for it;
- the replay check itself (``_land``) runs no Spark job."""

import json

import pytest
from pyspark.sql import types as T

from pg_auto_dw_spark.streaming import jobs
from pg_auto_dw_spark.warehouse import Warehouse

SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)
MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StringType()),
])
BANNER = "alpha beta gamma delta epsilon zeta eta theta"
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the quiet river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the quiet river bank today"),
    (3, f"stolen evaluation text {BANNER} pasted into a crawled page"),
]


def _jsonl_feed(spark, src):
    src.mkdir()
    lines = [json.dumps({"doc_id": i, "text": t}) for i, t in DOCS]
    (src / "a.jsonl").write_text("\n".join(lines + ["{broken"]) + "\n")


def _media_feed(spark, src):
    def payload(seed, n=720):
        return bytes((seed * 37 + i * 11 + (i * i) % 31) % 256 for i in range(n))

    rows = [(1, "image", payload(1), None), (2, "audio", payload(2, 650), None)]
    spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1).write.parquet(str(src))


def _benchmark(spark):
    return spark.createDataFrame(
        [(1000, f"prefix words here {BANNER} suffix words there")],
        "doc_id long, text string",
    )


def _semdecon_index(spark, tmp_path):
    from pg_auto_dw_spark.functions.semsearch import build_chunk_search_index
    from tests.test_semsearch import _docs

    iwh = Warehouse(spark, str(tmp_path / "ix"))
    build_chunk_search_index(
        iwh, _docs(spark), "dc", chunk_words=8, stride=6, dims=32, kmeans_stride=3
    )
    return iwh


def _start(zone, spark, src, wh, ckpt, tmp_path, **maint):
    """Start ``zone``'s stream; returns (query, zone tables, maintained tables)."""
    if zone == "jsonl":
        q = jobs.jsonl_ingest_stream(
            spark, src, SCHEMA, wh, "z.clean", "z.quar", ckpt,
            rejected_table="z.rej", quality_gopher=True,
        )
        return q, ["z.clean", "z.quar", "z.rej", "z.clean.ingest_log"], []
    if zone == "decontam":
        q = jobs.jsonl_decontam_ingest_stream(
            spark, src, SCHEMA, wh, "z.clean", "z.contam", "z.quar", ckpt,
            _benchmark(spark), **maint,
        )
        return q, ["z.clean", "z.contam", "z.quar", "z.clean.ingest_log"], ["z.clean"]
    if zone == "dedup":
        q = jobs.jsonl_dedup_ingest_stream(
            spark, src, SCHEMA, wh, "z.docs", "z.quar", ckpt, **maint
        )
        tables = ["z.docs", "z.docs.digests", "z.quar", "z.docs.ingest_log"]
        return q, tables, ["z.docs", "z.docs.digests"]
    if zone == "neardup":
        q = jobs.jsonl_neardup_ingest_stream(
            spark, src, SCHEMA, wh, "z.docs", "z.quar", ckpt,
            dupes_table="z.dupes", **maint,
        )
        sidecars = ["z.docs", "z.docs.bands", "z.docs.minhash"]
        return q, sidecars + ["z.dupes", "z.quar", "z.docs.ingest_log"], sidecars
    if zone == "semdecon":
        q = jobs.jsonl_semdecon_ingest_stream(
            spark, src, SCHEMA, wh, "z.clean", "z.contam", "z.quar", ckpt,
            _semdecon_index(spark, tmp_path), "dc", threshold=0.8,
        )
        return q, ["z.clean", "z.contam", "z.quar", "z.clean.ingest_log"], []
    assert zone == "media"
    q = jobs.media_ingest_stream(spark, src, MEDIA_SCHEMA, wh, "z.media", ckpt, **maint)
    sidecars = ["z.media", "z.media.phash", "z.media.chunks"]
    return q, sidecars + ["z.media.ingest_log"], sidecars


def _run(zone, spark, tmp_path, ckpt, **maint):
    src = tmp_path / "feed"
    if not src.exists():
        (_media_feed if zone == "media" else _jsonl_feed)(spark, src)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    q, tables, maintained = _start(
        zone, spark, str(src), wh, str(tmp_path / ckpt), tmp_path, **maint
    )
    q.awaitTermination(180)
    return wh, tables, maintained


ZONES = ["jsonl", "decontam", "dedup", "neardup", "semdecon", "media"]


@pytest.mark.parametrize("zone", ZONES)
def test_replayed_batch_id_changes_nothing(spark, tmp_path, zone):
    wh, tables, _ = _run(zone, spark, tmp_path, "ckpt1")
    before = {t: (wh.data_files(t), wh.history(t)) for t in tables}
    assert wh.read(tables[-1]).count() == 1  # the ledger row landed
    wh, tables, _ = _run(zone, spark, tmp_path, "ckpt2")  # batch 0 again
    after = {t: (wh.data_files(t), wh.history(t)) for t in tables}
    assert after == before


@pytest.mark.parametrize("zone", ["decontam", "dedup", "neardup", "media"])
def test_maintenance_compacts_every_listed_table(spark, tmp_path, zone):
    wh, _, maintained = _run(
        zone, spark, tmp_path, "ckpt",
        maintenance_every=1,
        maintenance_kwargs={"max_small_files": 0, "small_file_mb": 1},
    )
    for t in maintained:
        assert "overwrite" in [h["action"] for h in wh.history(t)], t


def test_replay_check_runs_no_spark_job(spark, tmp_path):
    from tests.test_catalog_crawl import _wait_for_listener

    wh = Warehouse(spark, str(tmp_path / "wh"))
    assert jobs._land(wh, "z", 0, lambda appends: jobs._commit(wh, appends)) == [1]
    staged = []
    sc = spark.sparkContext
    sc.setJobGroup("replay-no-jobs", "replay-no-jobs")
    try:
        assert jobs._land(wh, "z", 0, staged.append) is None
        jobs._land(wh, "z", 1, staged.append)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _wait_for_listener(sc)
    assert list(sc.statusTracker().getJobIdsForGroup("replay-no-jobs")) == []
    assert [[t for t, _ in appends] for appends in staged] == [["z.ingest_log"]]
