"""Multi-table atomic commit (the reference's one-transaction load
script, controller/dv_loader.rs:59-64, over the generation+pointer
layout): journal-then-swap with roll-forward recovery.

Crash windows proven here:
  before the journal  -> abort: no pointer moves, staged gens GCed
  after the journal   -> commit: init recovery swaps every pointer
  mid-swap            -> recovery completes the rest (idempotent)
"""

import json
import os
import uuid

import pytest
from pyspark.sql import types as T

from pg_auto_dw_spark.warehouse import Warehouse

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def _df(spark, tag, n=4):
    return spark.createDataFrame([(i, f"{tag}{i}") for i in range(n)], SCHEMA)


def _vals(wh, name):
    return {r["v"] for r in wh.read(name).collect()}


def _setup(spark, root):
    wh = Warehouse(spark, root)
    for t in ("dv.hub", "dv.sat"):
        wh.create_table(t, SCHEMA)
        wh.overwrite(t, _df(spark, "old_" + t[3:]))
    return wh


def test_transaction_commits_all_tables(spark, warehouse_dir):
    wh = _setup(spark, warehouse_dir)
    with wh.transaction(["dv.hub", "dv.sat"]) as txn:
        txn.overwrite("dv.hub", _df(spark, "new_hub"))
        txn.overwrite("dv.sat", _df(spark, "new_sat"))
        # live tables untouched while the block runs
        assert _vals(wh, "dv.hub") == {f"old_hub{i}" for i in range(4)}
    assert _vals(wh, "dv.hub") == {f"new_hub{i}" for i in range(4)}
    assert _vals(wh, "dv.sat") == {f"new_sat{i}" for i in range(4)}
    assert wh.history("dv.hub")[-1]["action"] == "txn-overwrite"
    assert not [e for e in os.listdir(warehouse_dir) if e.endswith(".journal")]


def test_transaction_abort_leaves_both_tables_untouched(spark, warehouse_dir):
    wh = _setup(spark, warehouse_dir)
    with pytest.raises(RuntimeError, match="boom"):
        with wh.transaction(["dv.hub", "dv.sat"]) as txn:
            txn.overwrite("dv.hub", _df(spark, "new_hub"))
            raise RuntimeError("boom")
    assert _vals(wh, "dv.hub") == {f"old_hub{i}" for i in range(4)}
    assert _vals(wh, "dv.sat") == {f"old_sat{i}" for i in range(4)}
    # the staged generation is an orphan; a fresh init reaps it
    wh2 = Warehouse(spark, warehouse_dir)
    live = {os.path.basename(wh2.path(t)) for t in ("dv.hub", "dv.sat")}
    gens = {e for e in os.listdir(warehouse_dir) if "__gen-" in e}
    assert gens == {g for g in gens if g in live} | (gens & live)
    assert all(g in live for g in gens)


def test_crash_after_journal_rolls_forward_on_init(spark, warehouse_dir):
    wh = _setup(spark, warehouse_dir)
    # stage two fully-written generations by hand (what _Transaction
    # does), then "crash" after the journal write, before any swap
    staged = {}
    for t, tag in (("dv.hub", "j_hub"), ("dv.sat", "j_sat")):
        gen = wh._base(t) + "__gen-" + uuid.uuid4().hex[:8]
        _df(spark, tag).write.mode("overwrite").parquet(gen)
        staged[t] = os.path.basename(gen)
    jpath = os.path.join(warehouse_dir, "_txn-deadbeef.journal")
    with open(jpath, "w") as f:
        json.dump({"tables": staged}, f)

    wh2 = Warehouse(spark, warehouse_dir)  # recovery runs at init
    assert _vals(wh2, "dv.hub") == {f"j_hub{i}" for i in range(4)}
    assert _vals(wh2, "dv.sat") == {f"j_sat{i}" for i in range(4)}
    assert not os.path.isfile(jpath)
    assert wh2.history("dv.hub")[-1]["action"] == "txn-recovery"


def test_crash_mid_swap_completes_remaining_tables(spark, warehouse_dir):
    wh = _setup(spark, warehouse_dir)
    staged = {}
    for t, tag in (("dv.hub", "j_hub"), ("dv.sat", "j_sat")):
        gen = wh._base(t) + "__gen-" + uuid.uuid4().hex[:8]
        _df(spark, tag).write.mode("overwrite").parquet(gen)
        staged[t] = os.path.basename(gen)
    jpath = os.path.join(warehouse_dir, "_txn-cafebabe.journal")
    with open(jpath, "w") as f:
        json.dump({"tables": staged}, f)
    # one table already swapped before the crash
    wh._commit_generation("dv.hub", os.path.join(warehouse_dir, staged["dv.hub"]))

    wh2 = Warehouse(spark, warehouse_dir)
    assert _vals(wh2, "dv.hub") == {f"j_hub{i}" for i in range(4)}  # idempotent
    assert _vals(wh2, "dv.sat") == {f"j_sat{i}" for i in range(4)}  # completed
    assert not os.path.isfile(jpath)


def test_recovery_fenced_by_newer_commit(spark, warehouse_dir):
    """A table whose pointer advanced PAST the journaled pre-commit
    target (a still-initialized writer committed between the crash and
    init) must NOT be rolled back to the stale staged generation; the
    untouched table still rolls forward (r5 review: journal fencing)."""
    wh = _setup(spark, warehouse_dir)
    staged, expect = {}, {}
    for t, tag in (("dv.hub", "j_hub"), ("dv.sat", "j_sat")):
        gen = wh._base(t) + "__gen-" + uuid.uuid4().hex[:8]
        _df(spark, tag).write.mode("overwrite").parquet(gen)
        staged[t] = os.path.basename(gen)
        expect[t] = os.path.basename(os.path.abspath(wh.path(t)))
    jpath = os.path.join(warehouse_dir, "_txn-feedface.journal")
    with open(jpath, "w") as f:
        json.dump({"tables": staged, "expect": expect}, f)
    # a newer writer (initialized before the "crash") commits dv.hub
    wh.overwrite("dv.hub", _df(spark, "newer"))

    wh2 = Warehouse(spark, warehouse_dir)  # recovery runs at init
    # fenced: the newer commit survives, the stale txn gen does not win
    assert _vals(wh2, "dv.hub") == {f"newer{i}" for i in range(4)}
    # the untouched table still rolls forward
    assert _vals(wh2, "dv.sat") == {f"j_sat{i}" for i in range(4)}
    assert not os.path.isfile(jpath)


def test_recovery_legacy_journal_without_expect_still_rolls_forward(
    spark, warehouse_dir
):
    """Journals written before the fence carry no 'expect' key; they
    must keep the old always-roll-forward behavior."""
    wh = _setup(spark, warehouse_dir)
    gen = wh._base("dv.hub") + "__gen-" + uuid.uuid4().hex[:8]
    _df(spark, "legacy").write.mode("overwrite").parquet(gen)
    jpath = os.path.join(warehouse_dir, "_txn-0ddba11.journal")
    with open(jpath, "w") as f:
        json.dump({"tables": {"dv.hub": os.path.basename(gen)}}, f)
    wh2 = Warehouse(spark, warehouse_dir)
    assert _vals(wh2, "dv.hub") == {f"legacy{i}" for i in range(4)}
    assert not os.path.isfile(jpath)


@pytest.mark.parametrize(
    "text", ['{"tables": {"dv.hub": "dv__hub__gen-', '{"expect": {}}', '["dv.hub"]']
)
def test_unreadable_journal_fails_loudly(spark, warehouse_dir, text):
    """A journal is written whole (tmp, fsync, rename), so one that does
    not parse was damaged outside the warehouse: init and GC raise
    instead of skipping it and reaping the generations it may name."""
    wh = _setup(spark, warehouse_dir)
    gen = wh._base("dv.hub") + "__gen-" + uuid.uuid4().hex[:8]
    _df(spark, "j_hub").write.mode("overwrite").parquet(gen)
    jpath = os.path.join(warehouse_dir, "_txn-badc0de.journal")
    with open(jpath, "w") as f:
        f.write(text)
    with pytest.raises(RuntimeError, match="unreadable transaction journal"):
        wh._journal_tables()
    with pytest.raises(RuntimeError, match="unreadable transaction journal"):
        Warehouse(spark, warehouse_dir)
    assert os.path.isdir(gen) and os.path.isfile(jpath)
    assert _vals(wh, "dv.hub") == {f"old_hub{i}" for i in range(4)}


def test_vanished_journal_and_tmp_journal_are_skipped(spark, warehouse_dir, monkeypatch):
    """A journal unlinked by its commit between the directory listing and
    the open is skipped, and a leftover ``.journal.tmp`` (a crash before
    the journal's rename, i.e. an aborted transaction) is ignored."""
    wh = _setup(spark, warehouse_dir)
    with open(os.path.join(warehouse_dir, "_txn-0badf00d.journal.tmp"), "w") as f:
        f.write('{"tables": {"dv.hub"')
    listdir = os.listdir
    root = os.path.abspath(warehouse_dir)

    def with_vanished(path="."):
        names = listdir(path)
        return names + ["_txn-9one.journal"] if os.path.abspath(path) == root else names

    monkeypatch.setattr(os, "listdir", with_vanished)
    wh2 = Warehouse(spark, warehouse_dir)  # recovery and GC both list the root
    assert wh2._journal_tables() == {}
    monkeypatch.undo()
    assert _vals(wh2, "dv.hub") == {f"old_hub{i}" for i in range(4)}
    assert _vals(wh2, "dv.sat") == {f"old_sat{i}" for i in range(4)}


def test_transaction_partitioned_merge_and_undeclared_guard(spark, warehouse_dir):
    pschema = T.StructType(SCHEMA.fields + [T.StructField("b", T.LongType())])
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table("dv.dim", pschema, partition_by=["b"])
    wh.append(
        "dv.dim",
        spark.createDataFrame([(i, f"a{i}", i % 2) for i in range(6)], pschema),
    )
    wh.create_table("dv.hub", SCHEMA)
    with wh.transaction(["dv.dim", "dv.hub"]) as txn:
        txn.overwrite_partitions(
            "dv.dim", spark.createDataFrame([(0, "B0", 0)], pschema)
        )
        txn.overwrite("dv.hub", _df(spark, "h"))
        with pytest.raises(ValueError, match="not declared"):
            txn.overwrite("dv.other", _df(spark, "x"))
    got = {r["v"] for r in wh.read("dv.dim").collect()}
    assert got == {"B0", "a1", "a3", "a5"}  # partition b=0 replaced, b=1 kept
    assert _vals(wh, "dv.hub") == {f"h{i}" for i in range(4)}


# ---------------------------------------------------------------------------
# Two-process transaction stress: concurrent transactions each commit a
# MATCHED (writer, seq) marker pair across two tables; at every commit
# point the pair must be from ONE transaction (the global guard
# serializes), journals must all drain, and a GC-hammering reader must
# never observe a torn generation.
# ---------------------------------------------------------------------------

import multiprocessing as mp


def _txn_writer(root, writer_id, n_commits, log):
    wh = Warehouse(None, root)  # commit protocol is pure filesystem
    for seq in range(n_commits):
        with wh.transaction(["t.a", "t.b"]) as txn:
            staged = {}
            for t in ("t.a", "t.b"):
                gen = wh._base(t) + "__gen-" + uuid.uuid4().hex[:8]
                os.makedirs(gen)
                with open(os.path.join(gen, "marker"), "w") as f:
                    f.write(f"{writer_id}:{seq}")
                staged[t] = gen
            txn._staged = staged  # stage by hand: no Spark in workers
        log.put((writer_id, seq))


def _read_pair(root):
    out = {}
    for t in ("t.a", "t.b"):
        ptr = os.path.join(root, t.replace(".", "__") + ".live")
        try:
            with open(ptr) as f:
                gen = f.read().strip()
            with open(os.path.join(root, gen, "marker")) as f:
                out[t] = f.read()
        except FileNotFoundError:
            return None  # mid-swap or pre-first-commit: retry
    return out


def _txn_reader(root, stop, failures):
    import time as _time

    while not stop.is_set():
        Warehouse(None, root)  # init GC + recovery under contention
        pair = _read_pair(root)
        if pair is not None and len(set(pair.values())) > 1:
            # both pointers resolved but markers differ: the reader saw
            # a half-applied transaction OUTLIVE the swap loop. A brief
            # mismatch during the loop is documented; re-read to verify
            # it settles within the writer's commit window.
            _time.sleep(0.2)
            again = _read_pair(root)
            if again is not None and len(set(again.values())) > 1 and again == pair:
                failures.put(f"persistent mixed transaction state: {pair}")
        _time.sleep(0.01)


def test_two_process_transactions_stay_atomic(tmp_path):
    root = str(tmp_path / "wh_txn_stress")
    os.makedirs(root)
    ctx = mp.get_context("spawn")
    log, failures = ctx.Queue(), ctx.Queue()
    stop = ctx.Event()
    n_commits = 8
    writers = [
        ctx.Process(target=_txn_writer, args=(root, w, n_commits, log), daemon=True)
        for w in range(2)
    ]
    reader = ctx.Process(target=_txn_reader, args=(root, stop, failures), daemon=True)
    try:
        reader.start()
        for p in writers:
            p.start()
        for p in writers:
            p.join(timeout=120)
        stop.set()
        reader.join(timeout=30)
        assert [p.exitcode for p in writers] == [0, 0]
        assert reader.exitcode == 0
    finally:
        stop.set()
        for p in writers + [reader]:
            if p.is_alive():
                p.terminate()
    fails = []
    while not failures.empty():
        fails.append(failures.get())
    assert fails == []
    commits = []
    while not log.empty():
        commits.append(log.get())
    assert len(commits) == 2 * n_commits
    # final state: both tables carry the SAME (writer, seq) marker, and
    # it is some writer's final transaction
    final = _read_pair(root)
    assert final is not None and len(set(final.values())) == 1
    w, seq = map(int, final["t.a"].split(":"))
    assert seq == n_commits - 1
    # no journal survives a clean run
    assert not [e for e in os.listdir(root) if e.endswith(".journal")]


def test_transaction_staged_append_is_atomic_with_overwrite(spark, warehouse_dir):
    """The whole-load shape: an append to the hub and a rewrite of the
    sat land together; on abort neither is visible."""
    wh = _setup(spark, warehouse_dir)
    with pytest.raises(RuntimeError):
        with wh.transaction(["dv.hub", "dv.sat"]) as txn:
            txn.append("dv.hub", _df(spark, "x", n=2))
            txn.overwrite("dv.sat", _df(spark, "y", n=2))
            raise RuntimeError("abort")
    assert _vals(wh, "dv.hub") == {f"old_hub{i}" for i in range(4)}
    with wh.transaction(["dv.hub", "dv.sat"]) as txn:
        txn.append("dv.hub", _df(spark, "x", n=2))
        txn.overwrite("dv.sat", _df(spark, "y", n=2))
    assert _vals(wh, "dv.hub") == {f"old_hub{i}" for i in range(4)} | {"x0", "x1"}
    assert _vals(wh, "dv.sat") == {"y0", "y1"}


def test_atomic_dv_load_all_or_nothing(spark, warehouse_dir, monkeypatch):
    """load_business_key: hub + satellites land in one commit; a failure
    mid-load leaves NOTHING visible; the re-run completes everything
    and matches the non-atomic loaders' final state."""
    import pg_auto_dw_spark.build.builder as builder_mod
    from pg_auto_dw_spark.build.builder import load_business_key
    from pg_auto_dw_spark.build.ddl import hub_schema, satellite_schemas
    from pg_auto_dw_spark.queries_catalog import customer_business_key
    from pg_auto_dw_spark.sources import load_table

    bk = customer_business_key()
    wh = Warehouse(spark, warehouse_dir)
    wh.create_table(f"dw.hub_{bk.name}", hub_schema(bk))
    for name, schema in satellite_schemas(bk).items():
        wh.create_table(f"dw.{name}", schema)  # names come pre-prefixed
    cust = load_table(spark, "/root/testdata/sf0.001", "customer")

    # sabotage the satellite leg on the first attempt
    real_load_satellite = builder_mod.load_satellite

    def boom(*a, **k):
        raise RuntimeError("satellite leg failed")

    monkeypatch.setattr(builder_mod, "load_satellite", boom)
    with pytest.raises(RuntimeError, match="satellite leg failed"):
        load_business_key(wh, cust, bk)
    monkeypatch.setattr(builder_mod, "load_satellite", real_load_satellite)
    # the hub leg ran before the crash, but NOTHING is visible
    assert wh.read(f"dw.hub_{bk.name}").count() == 0

    counts = load_business_key(wh, cust, bk)
    n_cust = cust.count()
    assert counts[f"hub_{bk.name}"] == n_cust + 2  # ghosts + every key
    hub_n = wh.read(f"dw.hub_{bk.name}").count()
    assert hub_n == n_cust + 2
    for key in bk.satellites():
        assert wh.read(f"dw.sat_{key}").count() > 0
    # idempotent: a second atomic run appends nothing
    counts2 = load_business_key(wh, cust, bk)
    assert all(v == 0 for v in counts2.values())
    assert wh.read(f"dw.hub_{bk.name}").count() == hub_n
