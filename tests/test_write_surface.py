"""The shared write surface: every write verb, run directly and inside a
transaction, lands the same rows, logs the expected ``history()``
action and runs the same number of Spark jobs; and ``file_ranges``, the
one footer-stats scan file pruning rests on, is exact where the stats
allow and None where they don't."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from pg_auto_dw_spark.warehouse import Warehouse

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("b", T.LongType()),
    ]
)
BASE = [(i, f"v{i}", i % 2) for i in range(4)]
NEW = [(9, "v9", 1)]

# verb -> (partitioned table?, direct history action, rows after the
# write over BASE, Spark jobs the verb runs). The job counts are the
# ones the verbs ran before they shared one definition: 1 for a Spark
# verb, direct or in a transaction; 0 for the driver-written rows.
VERBS = {
    "append": (False, "append", {0, 1, 2, 3, 9}, 1),
    "append_rows": (False, "append", {0, 1, 2, 3, 9}, 0),
    "overwrite": (False, "overwrite", {9}, 1),
    "overwrite_rows": (False, "overwrite", {9}, 0),
    "overwrite_partitions": (True, "overwrite_partitions", {0, 2, 9}, 1),
    "replace_files": (True, "replace_files", {0, 2, 9}, 1),
}


def _setup(spark, root, partitioned, retain=1):
    wh = Warehouse(spark, root, retain_generations=retain)
    wh.create_table("m.t", SCHEMA, partition_by=["b"] if partitioned else None)
    if partitioned:
        wh.append("m.t", spark.createDataFrame(BASE, SCHEMA))
    else:
        wh.append_rows("m.t", BASE)
    return wh


def _call(target, wh, verb):
    """Run ``verb`` with the NEW rows against ``target`` (the warehouse
    or a transaction)."""
    df = wh.spark.createDataFrame(NEW, SCHEMA)
    if verb.endswith("_rows"):
        getattr(target, verb)("m.t", NEW)
    elif verb == "replace_files":
        drop = [rel for rel in wh.data_files("m.t") if rel.startswith("b=1" + os.sep)]
        target.replace_files("m.t", df, drop_files=drop)
    else:
        getattr(target, verb)("m.t", df)


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    group = f"write-surface-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "write surface job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("mode", ["direct", "retained", "transaction"])
@pytest.mark.parametrize("verb", sorted(VERBS))
def test_verb_rows_history_and_jobs(spark, warehouse_dir, verb, mode):
    partitioned, action, want, jobs = VERBS[verb]
    wh = _setup(spark, warehouse_dir, partitioned, retain=2 if mode == "retained" else 1)
    before = wh.history("m.t")

    def run():
        if mode == "transaction":
            with wh.transaction(["m.t"]) as txn:
                _call(txn, wh, verb)
        else:
            _call(wh, wh, verb)

    assert _jobs_of(spark, run) == jobs
    assert {r["k"] for r in wh.read("m.t").collect()} == want
    after = wh.history("m.t")
    if mode == "direct" and verb.startswith("append"):
        assert after == before  # in place: no generation, no commit
    else:
        expect = "txn-overwrite" if mode == "transaction" else action
        # a table's first pointer commit also logs its pre-log dir as "base"
        assert [e["action"] for e in after[len(before):]] in ([expect], ["base", expect])
    assert not [e for e in os.listdir(warehouse_dir) if e.endswith(".journal")]


@pytest.mark.parametrize("verb", ["append", "append_rows"])
def test_zero_row_append_stages_nothing(spark, warehouse_dir, verb):
    wh = _setup(spark, warehouse_dir, partitioned=False)
    files, history = wh.data_files("m.t"), wh.history("m.t")
    with wh.transaction(["m.t"]) as txn:
        if verb == "append":
            n = txn.append("m.t", spark.createDataFrame([], SCHEMA))
        else:
            n = txn.append_rows("m.t", [])
        assert n == 0 and txn._staged == {}
    assert not [e for e in os.listdir(warehouse_dir) if "__gen-" in e]
    assert (wh.data_files("m.t"), wh.history("m.t")) == (files, history)


def test_transaction_writes_compose(spark, warehouse_dir):
    """A linked write builds on the staged state, an overwrite replaces
    it, and every superseded staged generation is removed."""
    wh = _setup(spark, warehouse_dir, partitioned=False)
    with wh.transaction(["m.t"]) as txn:
        txn.append_rows("m.t", [(7, "v7", 1)])
        txn.append("m.t", spark.createDataFrame(NEW, SCHEMA))
        gens = [e for e in os.listdir(warehouse_dir) if "__gen-" in e]
        assert len(gens) == 1
        assert {r["k"] for r in spark.read.parquet(txn._staged["m.t"]).collect()} == {
            0, 1, 2, 3, 7, 9
        }
        txn.overwrite_rows("m.t", [(5, "v5", 1)])
        txn.append_rows("m.t", [(6, "v6", 0)])
        assert len([e for e in os.listdir(warehouse_dir) if "__gen-" in e]) == 1
        assert {r["k"] for r in wh.read("m.t").collect()} == {0, 1, 2, 3}
    assert {r["k"] for r in wh.read("m.t").collect()} == {5, 6}


def test_write_errors(spark, warehouse_dir):
    wh = _setup(spark, warehouse_dir, partitioned=False)
    df = spark.createDataFrame(NEW, SCHEMA)
    with wh.transaction(["m.t"]) as txn:
        for target in (wh, txn):
            with pytest.raises(ValueError, match="no partition spec"):
                target.overwrite_partitions("m.t", df)
            with pytest.raises(ValueError, match="no partition spec"):
                target.replace_files("m.t", df, drop_files=[])
        with pytest.raises(ValueError, match="not declared"):
            txn.append("m.other", df)
    wh.create_table("m.p", SCHEMA, partition_by=["b"])
    with pytest.raises(ValueError, match="driver-side rows"):
        wh.append_rows("m.p", NEW)
    with pytest.raises(ValueError, match="driver-side rows"):
        wh.overwrite_rows("m.unregistered", NEW)


# -- file_ranges ---------------------------------------------------------


def test_file_ranges_exact_across_row_groups(spark, warehouse_dir):
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("m.t", SCHEMA)  # one zero-row part file: no range
    rel = "part-00000-two-groups.parquet"
    pq.write_table(
        pa.table(
            {
                "k": pa.array([5, 1, 9, 20, 3, 7], pa.int64()),
                "v": ["e", "a", "i", "t", "c", "g"],
                "b": pa.array([0] * 6, pa.int64()),
            }
        ),
        os.path.join(wh.path("m.t"), rel),
        row_group_size=3,
    )
    assert pq.read_metadata(os.path.join(wh.path("m.t"), rel)).num_row_groups == 2
    ranges = wh.file_ranges("m.t", "k")
    assert ranges[rel] == (1, 20)
    assert set(ranges.values()) == {(1, 20), None}
    # string stats may be truncated bounds: never a range
    assert wh.file_ranges("m.t", "v")[rel] is None
    assert set(wh.file_ranges("m.t", "absent").values()) == {None}
    # a pruning box outside [1, 20] skips the file, one inside keeps it
    assert rel not in wh.prune_files("m.t", {"k": (21, 30)})
    assert rel in wh.prune_files("m.t", {"k": (20, 30), "absent": (0, 0)})


def test_file_ranges_dirs_filter(spark, warehouse_dir):
    wh = _setup(spark, warehouse_dir, partitioned=True)
    everything = wh.file_ranges("m.t", "k")
    only_b1 = wh.file_ranges("m.t", "k", dirs=["b=1"])
    assert only_b1 and set(only_b1) < set(everything)
    assert all(os.path.dirname(rel) == "b=1" for rel in only_b1)
    assert {rel: everything[rel] for rel in only_b1} == only_b1
    # the partition column lives in the dir name, not in the file
    assert set(wh.file_ranges("m.t", "b").values()) == {None}
