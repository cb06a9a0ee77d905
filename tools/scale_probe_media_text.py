"""Scale probe: assemble_media_text_pairs at 1x / 8x / 20x link volume.

What must hold at 100 TB: assembly wall tracks LINK volume (two
equi-joins + the documents join are all shuffle-or-broadcast on narrow
keys) and the bipartite pair-group CC tracks the DISTINCT
(media_cluster, text_cluster) edge count with a CONSTANT round count
(large-star/small-star rounds converge in O(log diameter) rounds;
caption graphs are star-shaped, diameter ~2). Nothing here may scale with the cross
product of media x documents.

Frames constructed directly (the probe measures the assembly path,
not the upstream dedup, which has its own probes): documents
replicated with id offsets, every media row linked to one caption,
every 5 consecutive media ids pre-clustered to a min-id canonical
(20% dup rate, denser than real corpora to stress the re-point join).

Usage: python tools/scale_probe_media_text.py
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pg_auto_dw_spark.functions.multimodal import assemble_media_text_pairs
from pg_auto_dw_spark.queries_catalog import load_table
from pg_auto_dw_spark.session import get_spark


def build(spark, base_docs, reps: int):
    parts = [
        base_docs.select(
            (F.col("doc_id") + F.lit(r * 1_000_000)).alias("doc_id"),
            "text", "n_chars",
        )
        for r in range(reps)
    ]
    docs = parts[0]
    for p in parts[1:]:
        docs = docs.unionByName(p)
    docs = docs.localCheckpoint(eager=True)
    media_ids = docs.select(F.col("doc_id").alias("media_id"))
    # every 5 consecutive ids form one cluster, min id canonical
    clusters = media_ids.select(
        "media_id", (F.col("media_id") - F.col("media_id") % 5).alias("cluster_id")
    ).localCheckpoint(eager=True)
    links = docs.select(
        F.col("doc_id").alias("media_id"),
        ((F.col("doc_id") + 7) % F.lit(reps * 1_000_000)).alias("doc_id"),
    ).localCheckpoint(eager=True)
    return docs, clusters, links


def main() -> None:
    spark = get_spark("probe-media-text")
    base = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text", "n_chars"
    )
    for reps in (1, 8, 20):
        docs, clusters, links = build(spark, base, reps)
        n_links = links.count()
        t0 = time.time()
        out = assemble_media_text_pairs(
            docs, links, clusters, quality_col="n_chars"
        )
        n_pairs = out.count()
        wall = time.time() - t0
        n_groups = out.select("pair_group").distinct().count()
        print(
            f"reps={reps:3d} links={n_links:8d} pairs={n_pairs:8d} "
            f"groups={n_groups:8d} assemble_wall={wall:6.2f}s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
