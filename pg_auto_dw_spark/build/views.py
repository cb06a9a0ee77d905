"""DV consumption views: business-view reconstruction and point-in-time
(PIT) tables.

The reference builds the raw vault but offers no read-side helpers;
these complete the standard DV 2.0 consumption layer:

- ``business_view``: hub joined with the current row of each of its
  satellites -- reconstructs the source-table shape from the vault.
  Round-trip property: after build+load, the business view equals the
  source on business-key + descriptor columns (tested, and exposed as
  the ``dv_round_trip_customer`` oracle query).
- ``pit_table``: for a date spine, the effective satellite load_ts per
  (hub key, as-of date) -- the classic query accelerator for
  as-of joins against multi-satellite hubs.

Scale: both are joins keyed on the uniform hub hash (no skew). The
current-row dedup is a row_number window partitioned by the hash --
evenly spread. PIT materialization turns repeated as-of windowing into
a static equi-join, which is exactly why DV deployments build them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..model.dv_schema import BusinessKey
from ..warehouse import Warehouse
from .loader import GHOST_RECORD_SOURCE


def current_satellite(sat: DataFrame, hub_hk: str, hd_col: str) -> DataFrame:
    """Latest satellite row per hub key (ties broken on hash-diff for
    determinism)."""
    w = Window.partitionBy(hub_hk).orderBy(F.col("load_ts").desc(), F.col(hd_col).desc())
    return sat.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop(
        "__rn"
    )


def business_view(
    wh: Warehouse, business_key: BusinessKey, dw_schema: str = "dw"
) -> DataFrame:
    """Reconstruct the source-table shape: hub business keys + current
    descriptor values from every satellite (ghost records excluded)."""
    hk = f"hub_{business_key.name}_hk"
    hub = wh.read(f"{dw_schema}.hub_{business_key.name}").filter(
        F.col("record_source") != GHOST_RECORD_SOURCE
    )
    out = hub.select(
        hk, *[f"{p.alias}_bk" for p in business_key.business_key_part_links]
    )
    for key, descriptors in business_key.satellites().items():
        sat = wh.read(f"{dw_schema}.sat_{key}")
        cur = current_satellite(sat, hk, f"sat_{key}_hd")
        cols = [d.descriptor_link.alias for d in descriptors]
        out = out.join(cur.select(hk, *cols), on=hk, how="left")
    return out


def pit_table(
    wh: Warehouse,
    business_key: BusinessKey,
    as_of_dates: list[str],
    dw_schema: str = "dw",
) -> DataFrame:
    """Point-in-time table: for each (hub key, as-of date), the
    effective load_ts of each satellite (max load_ts <= as-of).

    Each satellite's effective timestamp is resolved with the
    one-shuffle as-of join (functions/asof.py union + carry-forward)
    instead of a join-filter-max over every (key, version, snapshot)
    combination -- per key the cost is O(versions + snapshots), not
    O(versions x snapshots), which is what keeps a PIT build viable
    over a satellite with deep history."""
    from ..functions.asof import asof_join

    hk = f"hub_{business_key.name}_hk"
    spark = wh.spark
    spine = spark.createDataFrame([(d,) for d in as_of_dates], ["as_of"]).select(
        F.to_timestamp(F.col("as_of")).alias("as_of")
    )
    hub = wh.read(f"{dw_schema}.hub_{business_key.name}").filter(
        F.col("record_source") != GHOST_RECORD_SOURCE
    )
    base = hub.select(hk).crossJoin(F.broadcast(spine))
    out = base
    for key in business_key.satellites():
        # distinct (key, ts): several hash-diff versions may share one
        # load instant; the effective ts is the instant either way
        sat = (
            wh.read(f"{dw_schema}.sat_{key}").select(hk, "load_ts").distinct()
        )
        eff = asof_join(
            base,
            sat,
            on=[hk],
            left_ts="as_of",
            right_ts="load_ts",
            payload=[],
            suffix=f"__{key}",
        ).select(
            hk, "as_of", F.col(f"load_ts__{key}").alias(f"sat_{key}_load_ts")
        )
        out = out.join(eff, on=[hk, "as_of"], how="left")
    return out
