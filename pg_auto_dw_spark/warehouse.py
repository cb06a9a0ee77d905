"""Parquet-backed warehouse: the Spark stand-in for Postgres heap tables.

The reference materializes everything as Postgres tables in the
``auto_dw`` schema (reference: utility/sql/info_tables.sql). Delta Lake
is not available in this environment, so the warehouse manages plain
parquet directories. Every write verb is defined once (``_WriteVerbs``)
as two parts: what a fresh generation dir (``<table>__gen-<id>``)
starts from, and a ``write(gen) -> rows`` closure that lands the new
rows in it (SURVEY.md S5-S9):

  verb                  starts from            write(gen)
  append                live files, linked*    Spark append
  append_rows           live files, linked*    one driver-written file
  overwrite             empty                  Spark write
  overwrite_rows        empty                  one driver-written file
  overwrite_partitions  live files, linked     dynamic partition overwrite
  replace_files         live minus drop_files  Spark write, moved in

  * at ``retain_generations == 1`` an append writes in place instead:
    no generation, no lock.

``append``/``append_rows`` are the INSERT...SELECT sinks (S7): hub/sat
loads are idempotent *structurally* (anti-join before append,
reference: dv_loader.rs:177-181,339-346). The overwrites are the SCD2
UPDATE sinks (S8); ``create_table`` is the DDL sink (S6). A 0-row
append leaves no generation and no commit-log entry.

Commit: ``Warehouse`` makes a generation live under the table lock by
atomically ``os.replace``-ing a pointer file (``<table>.live``) -- the
single-transaction stand-in for the reference's one-script SCD2 merge
(reference: controller/dv_loader.rs:59-64). A crash before the pointer
swap leaves the old generation live; a crash after it leaves the new
one live; in neither window is the table missing or half-renamed.
Inside ``Warehouse.transaction`` the same verbs stage their
generations (a later write to the same table builds on, or for an
overwrite replaces, the staged one) and one journal commits them all.
Orphan generations and legacy ``.staging-*``/``.old-*`` dirs are
garbage-collected on ``Warehouse`` init.

Reads: ``read``/``read_files``/``read_version`` scan with the
registered schema; ``file_ranges`` is the one parquet-footer min/max
scan that file pruning (``prune_files``, the merge verbs) rests on.

Scale posture: data-plane tables (hubs/satellites) are written with
``partitionBy`` when a partition spec is registered -- at 100 TB you
partition by load date so incremental loads touch only new partitions
and never rewrite. Metadata tables stay tiny by construction.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import shutil
import uuid
import weakref

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class _WriteVerbs:
    """The write verbs, each defined once: what the fresh generation
    starts from (``carry``: None starts it empty; a set hardlinks the
    base's files in, minus the relative paths the set names) and the
    ``write(gen) -> rows`` closure that lands the new rows. The
    subclass's ``_write`` decides what happens to the generation:
    ``Warehouse`` commits it, ``_Transaction`` stages it."""

    def append(self, name: str, df: DataFrame) -> int:
        """INSERT...SELECT sink; returns the rows appended. The count is
        an ``Observation`` on the written frame, so it rides the write
        job itself -- callers never need a separate count (or the
        persist that would make one cheap).

        With the default retention (1) this is an in-place parquet
        append -- the cheap hot path for hub/sat loads. Under
        ``retain_generations > 1`` (and in a transaction) the append is
        copy-on-write: the live files hardlink into a fresh generation
        and the rows append there, so every retained snapshot stays
        immutable (an in-place append would leak new files into the
        generation dir an older version still names).

        A 0-row append leaves no trace: the zero-row part file Spark
        writes for an empty write is removed, and no generation or
        commit-log entry is made."""
        return self._write(
            name, "append", self._wh._frame_write(name, df), frozenset(), in_place=True
        )

    def append_rows(self, name: str, rows) -> int:
        """Append rows the driver already holds (log lines, classifier
        responses, a build's DVSchema, a vault leg's new rows) as ONE
        parquet file written on the driver -- no Spark job. ``rows`` are
        tuples, whose values convert exactly as
        ``createDataFrame(rows, schema)`` converts them (timestamps go
        through ``TimestampType.toInternal``, so naive datetimes are
        read in the driver's local time zone), or an Arrow table, whose
        columns of the schema's names are cast to its Arrow types
        (zone-aware timestamps keep their instant). Same rules as
        ``append``; needs a registered schema and an unpartitioned
        table. Returns the number of rows."""
        return self._write(
            name, "append", self._wh._rows_write(name, rows), frozenset(), in_place=True
        )

    def overwrite(self, name: str, df: DataFrame) -> None:
        """Crash-safe full rewrite into an empty generation. A direct
        overwrite of the directory being read would corrupt the
        self-referential merges (read current -> compute -> rewrite),
        so the new generation is always written beside the live one;
        the table is readable (old or new, never neither) at every
        instant. Callers that read-modify-write should hold
        ``wh.lock(name)`` around the whole cycle -- the nested
        acquisition is reentrant."""
        self._write(name, "overwrite", self._wh._frame_write(name, df))

    def overwrite_rows(self, name: str, rows: list[tuple]) -> None:
        """``overwrite`` for rows the driver already holds: they land as
        ONE parquet file written on the driver (no Spark job, values
        converted as ``append_rows`` converts them)."""
        self._write(name, "overwrite", self._wh._rows_write(name, rows))

    def overwrite_partitions(self, name: str, df: DataFrame) -> None:
        """Partition-pruned rewrite: replace ONLY the partitions whose
        values appear in ``df`` (Spark dynamic partition overwrite);
        every other partition keeps its existing parquet files (shared
        by hardlink, byte-identical) -- the write path for data-scale
        incremental merges, where a full rewrite would rewrite 100 TB to
        change one load date. The overwrite runs against the
        copy-on-write generation, so a crash leaves either the old or
        the new state fully live -- never a half-replaced partition.

        Requires a registered partition spec. Because the write lands
        in a fresh generation dir, ``df`` may freely derive from this
        same table (no self-overwrite lineage conflict). At extreme
        file counts the per-merge linking cost is the knob an ACID
        table format (MERGE INTO over Delta/Iceberg manifests) replaces
        -- see SCALE.md."""
        write = self._wh._partitions_write(name, df)
        self._write(name, "overwrite_partitions", write, frozenset())

    def replace_files(self, name: str, df: DataFrame, drop_files: list[str]) -> None:
        """File-granular copy-on-write replacement: the generation links
        every live file EXCEPT ``drop_files`` (paths relative to the
        live dir), and ``df`` (written with the table's partition spec)
        lands in it. Commit semantics are ``overwrite_partitions``'s,
        but the rewrite granularity is FILES: a merge that read only
        the files whose key range intersects its batch rewrites only
        those (the write-amplification knob at 100 TB; an ACID table
        format's MERGE INTO replaces exactly this, see SCALE.md)."""
        write = self._wh._files_write(name, df)
        drop = frozenset(os.path.normpath(p) for p in drop_files)
        self._write(name, "replace_files", write, drop)


class Warehouse(_WriteVerbs):
    """A directory of named parquet tables with a recorded schema."""

    def __init__(
        self, spark: SparkSession, root: str, retain_generations: int | None = None
    ):
        """``retain_generations`` is the snapshot-retention knob (Delta
        ``delta.logRetentionDuration`` analog, counted in versions not
        days): every pointer commit appends to a per-table commit log,
        and the last N committed generations' directories are kept on
        disk, enabling ``history``/``read_version``/``rollback``.
        The default keeps only the live generation -- exactly the
        pre-time-travel behavior and disk footprint. Old generations
        share unchanged parquet files with the live one by hardlink, so
        retention costs only the delta between versions, not N full
        copies.

        The knob is a WAREHOUSE property, persisted in the sidecar
        meta: pass it once when establishing the warehouse; every later
        open (including read-only monitoring opens that pass nothing)
        inherits the persisted value, so an open with the default can
        never GC snapshots a previous owner configured to keep."""
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._schemas: dict[str, T.StructType] = {}
        self._partitioning: dict[str, list[str]] = {}
        # dropped-column ledger: table -> {column -> simpleString type};
        # guards drop-then-re-add-with-new-type (see evolve_schema)
        self._dropped: dict[str, dict[str, str]] = {}
        self.retain_generations = 1
        # reentrancy bookkeeping: (lock path, thread id) -> [fd, depth]
        self._held_locks: dict[tuple, list] = {}
        self._load_meta()
        if retain_generations is not None and max(1, retain_generations) != self.retain_generations:
            self.retain_generations = max(1, retain_generations)
            self._save_meta()
        self._recover_transactions()
        self._gc_stale_dirs()

    # -- concurrency ----------------------------------------------------
    # The reference gets writer serialization for free from Postgres
    # transactions (reference: controller/dv_loader.rs:59-64 -- SPI runs
    # the whole load script in one transaction). Our stand-in is a
    # per-table advisory flock: ``overwrite`` holds it across
    # write+commit, and a merge can hold it across its whole
    # read-compute-write cycle so two concurrent merges serialize
    # instead of losing an update. Locks are reentrant per
    # (Warehouse instance, thread) -- merge -> overwrite nests; any
    # other thread, instance, or process excludes.
    #
    # SCOPE BOUNDARY (see SCALE.md "Writer serialization scope"):
    # flock is a per-MACHINE primitive. Writers on one host serialize;
    # two drivers on different hosts sharing a network filesystem do
    # NOT see each other's locks. Deployments are single-writer-per-
    # table (the reference's own posture), or they swap the Warehouse
    # for an ACID table format whose optimistic commit replaces this
    # lock -- the contract surface pinned by test_warehouse_contract.py
    # is what a Delta/Iceberg-backed implementation re-implements.
    def _lock_path(self, name: str) -> str:
        return self._base(name) + ".lock"

    @contextlib.contextmanager
    def lock(self, name: str, blocking: bool = True):
        """Exclusive per-table lock. ``blocking=False`` yields False
        instead of waiting (used by GC to skip tables with an active
        writer). Reentrancy is per (table, thread): a second thread on
        the same Warehouse takes the flock path and blocks until the
        holder releases (flock conflicts across fds of one process)."""
        import threading

        path = self._lock_path(name)
        key = (path, threading.get_ident())
        held = self._held_locks.get(key)
        if held is not None:
            held[1] += 1
            try:
                yield True
            finally:
                held[1] -= 1
            return
        fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB))
        except BlockingIOError:
            # Only a non-blocking probe may treat "lock busy" as False; a
            # blocking acquisition that fails must raise, or the caller's
            # ``with wh.lock(name):`` would proceed unserialized.
            os.close(fd)
            if blocking:
                raise
            yield False
            return
        except OSError:
            # ENOLCK/EIO etc.: the lock could not be taken at all. Never
            # degrade to an unlocked write -- surface it.
            os.close(fd)
            raise
        self._held_locks[key] = [fd, 1]
        try:
            yield True
        finally:
            del self._held_locks[key]
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    # -- durable table metadata ------------------------------------------
    # Schemas and partition specs must survive the process: a fresh
    # session appending to a partitioned table without knowing its spec
    # would write unpartitioned files into it.
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_warehouse_meta.json")

    def _load_meta(self) -> None:
        import json

        if not os.path.isfile(self._meta_path()):
            return
        with open(self._meta_path()) as f:
            meta = json.load(f)
        self.retain_generations = max(1, int(meta.get("retain_generations", 1)))
        for name, entry in meta.get("tables", {}).items():
            if entry.get("schema"):
                self._schemas[name] = T.StructType.fromJson(entry["schema"])
            if entry.get("partition_by"):
                self._partitioning[name] = list(entry["partition_by"])
            if entry.get("dropped"):
                self._dropped[name] = dict(entry["dropped"])

    def _save_meta(self) -> None:
        import json

        tables = {}
        for name in set(self._schemas) | set(self._partitioning):
            tables[name] = {
                "schema": self._schemas[name].jsonValue() if name in self._schemas else None,
                "partition_by": self._partitioning.get(name),
                "dropped": self._dropped.get(name) or None,
            }
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"tables": tables, "retain_generations": self.retain_generations},
                f,
                indent=1,
                sort_keys=True,
            )
        os.replace(tmp, self._meta_path())

    # -- paths ----------------------------------------------------------
    def _base(self, name: str) -> str:
        return os.path.join(self.root, name.replace(".", "__"))

    def _pointer_path(self, name: str) -> str:
        return self._base(name) + ".live"

    def path(self, name: str) -> str:
        """Resolve the live data directory for a table.

        With a pointer file present, the live dir is the generation it
        names; otherwise the plain base dir (tables that have never
        been overwritten, or written by the pre-pointer layout)."""
        ptr = self._pointer_path(name)
        if os.path.isfile(ptr):
            with open(ptr) as f:
                live = f.read().strip()
            resolved = os.path.join(self.root, live)
            if os.path.isdir(resolved):
                return resolved
        return self._base(name)

    # -- commit log / time travel --------------------------------------
    # Each pointer commit appends one JSONL entry {version, dir, action,
    # ts} to ``<base>.commits``. The log is the (single-file, append-
    # only) stand-in for a Delta/Iceberg transaction log: ``history``
    # reads it, ``read_version`` resolves a version to its retained
    # generation dir, ``rollback`` commits an OLD generation as the new
    # live one (copy-on-write -- no data moves, one pointer swap).
    def _log_path(self, name: str) -> str:
        return self._base(name) + ".commits"

    def _read_log(self, name: str) -> list[dict]:
        import json

        try:
            with open(self._log_path(name)) as f:
                return [json.loads(ln) for ln in f if ln.strip()]
        except FileNotFoundError:
            return []

    def _append_log(self, name: str, entry: dict) -> None:
        import json

        with open(self._log_path(name), "a") as f:
            f.write(json.dumps(entry) + "\n")

    def _retained_dirs(
        self, name: str, log: list[dict] | None = None, n: int | None = None
    ) -> set[str]:
        """Absolute paths of generation dirs the retention policy keeps:
        the dirs of the last ``n`` (default ``retain_generations``) log
        entries (a dir may back several versions after a rollback),
        plus whatever the pointer currently names."""
        n = self.retain_generations if n is None else max(1, n)
        log = self._read_log(name) if log is None else log
        keep = {os.path.abspath(self.path(name))}
        seen: list[str] = []
        for e in reversed(log):
            d = os.path.abspath(os.path.join(self.root, e["dir"]))
            if d not in seen:
                seen.append(d)
            if len(seen) >= n:
                break
        keep.update(seen)
        return keep

    def _commit_generation(self, name: str, gen_dir: str, action: str = "overwrite") -> None:
        """Atomically make ``gen_dir`` the live generation, append the
        commit-log entry, then GC generations past the retention
        horizon. The os.replace IS the commit point."""
        import time

        old = self.path(name)
        log = self._read_log(name)
        if not log and os.path.isdir(old) and os.path.abspath(old) != os.path.abspath(gen_dir):
            # First pointer commit over a pre-log table: record the
            # existing live dir as version 0 so it is itself retained /
            # rollback-able under a retention window > 1.
            base_entry = {
                "version": 0,
                "dir": os.path.relpath(old, self.root),
                "action": "base",
                "ts": round(time.time(), 3),
            }
            self._append_log(name, base_entry)
            log = [base_entry]
        # Log BEFORE the pointer swap: a crash in between leaves a
        # logged-but-not-live version (harmless -- retained, readable,
        # superseded by the next commit's version number) rather than a
        # live-but-unlogged generation that history can never address
        # and retention GC would mistake for an orphan.
        entry = {
            "version": (log[-1]["version"] + 1) if log else 0,
            "dir": os.path.basename(gen_dir),
            "action": action,
            "ts": round(time.time(), 3),
        }
        self._append_log(name, entry)
        log.append(entry)
        ptr = self._pointer_path(name)
        tmp = ptr + ".tmp-" + uuid.uuid4().hex[:8]
        with open(tmp, "w") as f:
            f.write(os.path.basename(gen_dir))
        os.replace(tmp, ptr)  # commit
        # Post-commit cleanup is best-effort: a failure here leaves an
        # orphan generation that init-time GC removes. Only dirs past
        # the retention horizon are reaped.
        keep = self._retained_dirs(name, log)
        drop = {
            os.path.abspath(os.path.join(self.root, e["dir"])) for e in log
        } - keep
        for d in drop:
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)

    # -- multi-table atomic commit --------------------------------------
    # The reference runs each whole load script in ONE Postgres
    # transaction (controller/dv_loader.rs:59-64): hub+sat+link either
    # all land or none do. The Warehouse analog: stage every table's
    # generation first, then write a commit JOURNAL (atomic rename)
    # naming all (table -> generation) pairs, then swap the pointers.
    # The journal write is the transaction's commit point:
    #   crash BEFORE it  -> no pointer moved; staged generations are
    #                       orphans, reaped by init GC         (abort)
    #   crash AFTER it   -> init-time recovery rolls FORWARD, swapping
    #                       every remaining pointer             (commit)
    # This gives all-or-nothing DURABILITY across tables. It does NOT
    # give cross-table read isolation: a reader racing the swap loop can
    # see table A new and table B old for a moment (read-committed per
    # table) -- the documented gap an ACID format with multi-table
    # transactions (or a catalog-level snapshot) would close.
    def _txn_lock_path(self) -> str:
        return os.path.join(self.root, "_txn.lock")

    @contextlib.contextmanager
    def _txn_guard(self):
        """Global flock serializing journal write/recovery (same
        single-host scope as the per-table locks)."""
        fd = os.open(self._txn_lock_path(), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _journal_tables(self) -> dict[str, str]:
        """(table -> generation basename) union over live journals --
        generations a pending transaction has committed-but-not-swapped;
        GC must never reap these."""
        out: dict[str, str] = {}
        try:
            entries = os.listdir(self.root)
        except FileNotFoundError:
            return out
        for e in entries:
            if e.startswith("_txn-") and e.endswith(".journal"):
                j = _read_journal(os.path.join(self.root, e))
                if j is not None:
                    out.update(j["tables"])
        return out

    def _recover_transactions(self) -> None:
        """Roll forward journaled transactions left by a crash: the
        journal exists only once every staged generation is fully on
        disk, so completion (not rollback) is always the correct
        direction. Idempotent -- a pointer already naming its journaled
        generation is skipped -- so a crash during recovery just
        re-runs it.

        FENCED (r5 review): the journal records each table's
        pre-commit pointer target; a table whose pointer names neither
        that dir nor the journaled generation was advanced by a LATER
        writer (one still initialized across the crash window) and is
        left alone -- roll-forward must complete the crashed
        transaction, never undo a newer commit. Journals from before
        the fence (no "expect" key) keep the old always-swap behavior.
        A fenced skip trades cross-table atomicity for the newer data:
        tables swapped pre-crash keep the transaction's generations,
        the fenced table keeps the newer writer's -- the same
        last-writer-wins outcome the newer commit already created."""
        with self._txn_guard():
            try:
                entries = os.listdir(self.root)
            except FileNotFoundError:
                return
            for e in sorted(entries):
                if not (e.startswith("_txn-") and e.endswith(".journal")):
                    continue
                jpath = os.path.join(self.root, e)
                j = _read_journal(jpath)
                if j is None:
                    continue
                expect = j.get("expect", {})
                for name, gen_base in j["tables"].items():
                    gen = os.path.join(self.root, gen_base)
                    with self.lock(name):
                        cur = os.path.basename(os.path.abspath(self.path(name)))
                        if cur == gen_base:
                            continue  # already swapped (pre-crash or re-run)
                        if name in expect and cur != expect[name]:
                            continue  # fenced: pointer advanced past the
                            # journaled txn -- a newer commit owns it
                        if os.path.isdir(gen):
                            self._commit_generation(name, gen, action="txn-recovery")
                with contextlib.suppress(OSError):
                    os.unlink(jpath)

    @contextlib.contextmanager
    def transaction(self, names: list[str]):
        """All-or-nothing write across ``names`` (see block comment
        above). Usage::

            with wh.transaction(["dv.hub", "dv.sat"]) as txn:
                txn.overwrite("dv.hub", hub_df)
                txn.overwrite_partitions("dv.sat", sat_batch)

        Writes stage into fresh generations while the block runs (live
        tables untouched); a clean exit commits them atomically via the
        journal; an exception aborts -- staged generations become
        orphans for init GC, and no pointer moves. The global txn guard
        is taken FIRST and held for the duration, then every named
        table's lock (sorted) -- the same guard-then-table order
        recovery uses, so transactions, recovery, and single-table
        writers can never deadlock; the cost is that two transactions
        serialize even on disjoint tables (the reference's posture:
        one loader process, controller/dv_loader.rs:59-64)."""
        names = sorted(set(names))
        with contextlib.ExitStack() as stack:
            stack.enter_context(self._txn_guard())
            for n in names:
                stack.enter_context(self.lock(n))
            txn = _Transaction(self, names)
            yield txn
            txn._commit()

    def _gc_stale_dirs(self) -> None:
        """Remove uncommitted/orphaned data dirs: generations not named
        by their pointer, superseded base dirs, legacy staging/backup
        dirs, and stale pointer tmp files.

        Concurrent-writer safe: a ``__gen-`` dir is reaped only after
        taking the owning table's lock *non-blocking* (an active writer
        holds it while its generation is uncommitted -- skip) and
        re-reading the pointer under the lock (the generation may have
        been committed between our directory listing and the lock)."""
        try:
            entries = os.listdir(self.root)
        except FileNotFoundError:
            return
        journaled = set(self._journal_tables().values())
        for e in entries:
            if e in journaled:
                continue  # pending-transaction generation: recovery owns it
            p = os.path.join(self.root, e)
            if ".live.tmp-" in e:
                # An active writer's commit is mid-flight between writing
                # this tmp file and os.replace-ing it -- only reap when no
                # writer holds the table lock.
                name = e.split(".live.tmp-")[0].replace("__", ".")
                with self.lock(name, blocking=False) as acquired:
                    if acquired:
                        with contextlib.suppress(OSError):
                            os.unlink(p)
            elif os.path.isdir(p) and (".staging-" in e or ".old-" in e):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.isdir(p) and "__gen-" in e:
                name = e.split("__gen-")[0].replace("__", ".")
                with self.lock(name, blocking=False) as acquired:
                    if acquired and os.path.abspath(p) not in self._retained_dirs(name):
                        shutil.rmtree(p, ignore_errors=True)
            elif os.path.isdir(p) and "__gen-" not in e and e + ".live" in entries:
                # base dir superseded by a committed generation (but kept
                # while the retention window still covers version 0)
                name = e.replace("__", ".")
                with self.lock(name, blocking=False) as acquired:
                    if acquired and os.path.abspath(p) not in self._retained_dirs(name):
                        shutil.rmtree(p, ignore_errors=True)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and (
            any(f.startswith("part-") or f == "_SUCCESS" for f in os.listdir(p))
            or any(os.path.isdir(os.path.join(p, d)) for d in os.listdir(p))
        )

    # -- DDL (S6) -------------------------------------------------------
    def create_table(
        self,
        name: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        if_not_exists: bool = True,
    ) -> None:
        """CREATE TABLE: register schema and write an empty dataset."""
        if self.exists(name):
            if if_not_exists:
                self._schemas.setdefault(name, schema)
                if partition_by:
                    self._partitioning.setdefault(name, partition_by)
                self._save_meta()
                return
            raise ValueError(f"table {name} already exists")
        self._schemas[name] = schema
        if partition_by:
            self._partitioning[name] = partition_by
        self._save_meta()
        # Zero-partition empty frame: createDataFrame([], schema)
        # parallelizes over defaultParallelism, so the metadata-only
        # CREATE was a 32-empty-task write job. An emptyRDD write runs
        # one task instead, which still lands ONE zero-row part file
        # (Spark keeps a schema-carrying file for an empty write) next
        # to _SUCCESS -- so "is this table empty" must sum footer
        # ``num_rows`` (``row_count``), never count files.
        empty = self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), schema)
        writer = empty.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    def evolve_schema(
        self,
        name: str,
        add: list[T.StructField] | None = None,
        drop: list[str] | None = None,
    ) -> T.StructType:
        """Metadata-only schema evolution (the Delta `mergeSchema` /
        column-mapping analog): ADD appends nullable columns to the
        registered schema -- existing parquet files are untouched and
        read back with NULLs in the new columns (the explicit-schema
        reader fills missing columns); DROP removes columns from the
        registered schema -- the bytes stay in the files but every
        scan prunes them (zero-rewrite drop, exactly how column
        mapping drops work). Type changes are rejected: parquet's
        vectorized reader does not widen physical types, so a type
        change is a rewrite (``overwrite`` with a cast), never a
        metadata edit. Partition columns cannot be dropped. Returns
        the new schema; persisted, so fresh sessions see it."""
        if name not in self._schemas:
            raise ValueError(f"table {name} has no registered schema to evolve")
        schema = self._schemas[name]
        have = {f.name for f in schema.fields}
        pcols = set(self._partitioning.get(name, []))
        dropped = self._dropped.setdefault(name, {})
        fields = list(schema.fields)
        for f in add or []:
            if f.name in have:
                raise ValueError(f"column {f.name} already exists in {name}")
            if not f.nullable:
                raise ValueError(
                    f"new column {f.name} must be nullable: existing files "
                    "have no values for it"
                )
            old_type = dropped.get(f.name)
            if old_type is not None and old_type != f.dataType.simpleString():
                # the bytes of the dropped column are still in old files
                # under the old physical type; re-adding under a new type
                # would make every pre-drop file unreadable (parquet
                # readers do not convert physical types)
                raise ValueError(
                    f"column {f.name} was previously dropped with type "
                    f"{old_type}; re-adding it as {f.dataType.simpleString()} "
                    "requires a rewrite (overwrite with a cast), not a "
                    "metadata edit"
                )
            if old_type is not None:
                # same-type re-add: pre-drop files expose their old values
                # again (column-mapping-free layout has no way to hide
                # them) -- intentional and now visible in `dropped` no more
                del dropped[f.name]
            fields.append(f)
            have.add(f.name)
        for c in drop or []:
            if c not in have:
                raise ValueError(f"column {c} does not exist in {name}")
            if c in pcols:
                raise ValueError(f"cannot drop partition column {c}")
            fld = next(f for f in fields if f.name == c)
            dropped[c] = fld.dataType.simpleString()
            fields = [f for f in fields if f.name != c]
            have.discard(c)
        self._schemas[name] = T.StructType(fields)
        self._save_meta()
        return self._schemas[name]

    def drop_table(self, name: str) -> None:
        import glob

        if os.path.isdir(self.path(name)):
            shutil.rmtree(self.path(name))
        for g in glob.glob(self._base(name) + "__gen-*"):
            shutil.rmtree(g, ignore_errors=True)
        for p in (
            self._pointer_path(name),
            self._lock_path(name),
            self._log_path(name),
            self._base(name),
        ):
            if os.path.isfile(p):
                os.unlink(p)
            elif os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
        self._schemas.pop(name, None)
        self._partitioning.pop(name, None)
        self._dropped.pop(name, None)
        self._save_meta()

    # -- reads ----------------------------------------------------------
    def _reader(self, name: str):
        """A parquet reader carrying ``name``'s registered schema, if
        any: partitionBy moves partition cols into directory names, and
        the full schema keeps types stable even for an empty table."""
        reader = self.spark.read
        return reader.schema(self._schemas[name]) if name in self._schemas else reader

    def read(self, name: str) -> DataFrame:
        return self._reader(name).parquet(self.path(name))

    def read_files(self, name: str, rel_paths: list[str]) -> DataFrame:
        """Read a specific subset of a partitioned table's data files
        (paths relative to the live dir). ``basePath`` keeps partition
        columns derived from the directory names, so the frame has the
        same schema as ``read`` -- the scan just lists fewer files."""
        live = self.path(name)
        reader = self._reader(name).option("basePath", live)
        return reader.parquet(*[os.path.join(live, p) for p in rel_paths])

    # -- time travel ----------------------------------------------------
    def history(self, name: str) -> list[dict]:
        """Commit history, oldest first: one dict per committed version
        with ``version``, ``action``, ``ts``, ``live`` (is this the
        pointer's current target) and ``available`` (is the generation
        dir still on disk, i.e. within the retention window). Tables
        written only in place (created + appended, never pointer-
        committed) have an empty history."""
        live = os.path.abspath(self.path(name))
        log = self._read_log(name)
        # after a rollback, several versions share the live dir -- only
        # the LATEST of them is "the" live version
        live_idx = max(
            (
                i
                for i, e in enumerate(log)
                if os.path.abspath(os.path.join(self.root, e["dir"])) == live
            ),
            default=-1,
        )
        out = []
        for i, e in enumerate(log):
            d = os.path.abspath(os.path.join(self.root, e["dir"]))
            out.append(
                {
                    "version": e["version"],
                    "action": e["action"],
                    "ts": e["ts"],
                    "live": i == live_idx,
                    "available": os.path.isdir(d),
                }
            )
        return out

    def _version_dir(self, name: str, version: int) -> str:
        log = self._read_log(name)
        match = [e for e in log if e["version"] == version]
        if not match:
            have = [e["version"] for e in log]
            raise ValueError(f"table {name} has no version {version}; history has {have}")
        d = os.path.join(self.root, match[-1]["dir"])
        if not os.path.isdir(d):
            raise ValueError(
                f"table {name} version {version} is past the retention window "
                f"(retain_generations={self.retain_generations}); its files were GCed"
            )
        return d

    def read_version(self, name: str, version: int) -> DataFrame:
        """Snapshot read (``VERSION AS OF`` analog): the table exactly as
        committed at ``version``. The generation dir must still be
        retained -- raise (never silently read the wrong data) if the
        retention window has GCed it."""
        return self._reader(name).parquet(self._version_dir(name, version))

    def vacuum(self, name: str, retain: int | None = None) -> dict:
        """Delta VACUUM analog: reap retained generations beyond
        ``retain`` (default: this warehouse's ``retain_generations``),
        keeping the live one unconditionally. Bytes are only truly
        freed when the last hardlink to a file goes away, so the
        returned ``bytes_unlinked`` is an upper bound on reclaim.
        Versions whose dirs are vacuumed stay in ``history`` as
        ``available: False`` (auditable, no longer readable)."""
        with self.lock(name):
            log = self._read_log(name)
            keep = self._retained_dirs(name, log, n=retain)
            removed = 0
            freed = 0
            for e in log:
                d = os.path.abspath(os.path.join(self.root, e["dir"]))
                if d in keep or not os.path.isdir(d):
                    continue
                for walk_root, _dirs, files in os.walk(d):
                    for fn in files:
                        with contextlib.suppress(OSError):
                            freed += os.path.getsize(os.path.join(walk_root, fn))
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
        return {"generations_removed": removed, "bytes_unlinked": freed}

    def rollback(self, name: str, version: int) -> None:
        """RESTORE TABLE ... TO VERSION analog: make ``version`` the live
        state again via a NEW commit whose generation dir is the old
        one -- copy-on-write, no data rewritten, one pointer swap. The
        rollback itself appears in ``history`` (auditable, and itself
        rollback-able)."""
        with self.lock(name):
            d = self._version_dir(name, version)
            self._commit_generation(name, d, action=f"rollback(to={version})")

    # -- writes ---------------------------------------------------------
    # The verbs live in ``_WriteVerbs``; this is how a direct write
    # stages and commits one generation, and the write closures.
    @property
    def _wh(self) -> Warehouse:
        return self

    def _write(self, name, action, write, carry=None, in_place=False):
        """Stage a generation and commit it under the table lock; an
        in-place verb at ``retain_generations == 1`` writes straight
        into the live dir instead (no lock, no generation). The lock
        spans write + commit, so concurrent writers serialize and
        init-time GC in another process never reaps the generation
        mid-write."""
        if in_place and self.retain_generations == 1:
            return write(self.path(name))
        with self.lock(name):
            gen, n = self._stage(name, self.path(name), write, carry)
            if gen is not None:
                self._commit_generation(name, gen, action)
        return n

    def _stage(self, name: str, base: str, write, carry) -> tuple[str | None, int]:
        """Mint a fresh generation, start it from ``base`` as ``carry``
        says (see ``_WriteVerbs``) and ``write`` into it. Returns
        (generation, rows written); the generation is None -- and
        removed again -- when a counted write added no rows to a linked
        copy, which is then just ``base``. Only the appends count rows
        into a linked copy; the partition verbs return None."""
        gen = self._base(name) + "__gen-" + uuid.uuid4().hex[:8]
        linked = carry is not None and os.path.isdir(base)
        if linked:
            self._link_tree(base, gen, carry)
        else:
            os.makedirs(gen, exist_ok=True)
        n = write(gen)
        if n == 0 and linked:
            shutil.rmtree(gen, ignore_errors=True)
            return None, 0
        return gen, n

    def _frame_write(self, name: str, df: DataFrame):
        """``write(target) -> rows`` adding ``df``'s rows to ``target``
        (an empty generation, for ``overwrite``) in one Spark job."""
        obs = Observation()
        writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append")
        if name in self._partitioning:
            writer = writer.partitionBy(*self._partitioning[name])

        def write(target: str) -> int:
            before = set(_data_files(target))
            writer.parquet(target)
            _drop_empty_files(target, before)
            return obs.get["n"]

        return write

    def _rows_write(self, name: str, rows):
        """``write(target) -> rows`` for a driver-side append of ``rows``."""
        table = _arrow_table(self._driver_schema(name), rows)

        def write(target: str) -> int:
            if table.num_rows:
                os.makedirs(target, exist_ok=True)
                fname = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
                tmp = os.path.join(target, f".{fname}.tmp")  # hidden from scans
                pq.write_table(table, tmp, compression="snappy")
                os.replace(tmp, os.path.join(target, fname))
            return table.num_rows

        return write

    def _partition_writer(self, name: str, df: DataFrame, verb: str):
        if name not in self._partitioning:
            raise ValueError(
                f"table {name} has no partition spec; {verb} requires one "
                "(register it via create_table(partition_by=...))"
            )
        return df.write.mode("overwrite").partitionBy(*self._partitioning[name])

    def _partitions_write(self, name: str, df: DataFrame):
        """``write(gen)`` replacing the partitions ``df`` has rows in."""
        writer = self._partition_writer(name, df, "overwrite_partitions").option(
            "partitionOverwriteMode", "dynamic"
        )
        return writer.parquet

    def _files_write(self, name: str, df: DataFrame):
        """``write(gen)`` landing ``df`` next to the files already in
        ``gen``: written through a ``_staging`` subdir (underscore-
        hidden from every scan), then its data files move into their
        partition dirs."""
        writer = self._partition_writer(name, df, "replace_files")

        def write(gen: str) -> None:
            staging = os.path.join(gen, "_staging")
            writer.parquet(staging)
            for rel in _data_files(staging):
                target = os.path.join(gen, rel)
                os.makedirs(os.path.dirname(target), exist_ok=True)
                os.replace(os.path.join(staging, rel), target)
            shutil.rmtree(staging, ignore_errors=True)

        return write

    def _driver_schema(self, name: str) -> T.StructType:
        """Schema of a table the driver reads or writes as Arrow."""
        if name not in self._schemas or name in self._partitioning:
            raise ValueError(
                f"driver-side rows need a registered, unpartitioned table; {name} is not"
            )
        return self._schemas[name]

    def _link_tree(self, src: str, dst: str, skip=frozenset()) -> None:
        """Hardlink every file under ``src`` into ``dst`` preserving the
        directory layout, except the relative paths in ``skip``. Parquet
        files are immutable once written, so sharing inodes between
        generations is safe; linking is O(file count) metadata ops,
        never a data copy. Falls back to copy2 on filesystems without
        hardlinks (cross-device, some network FS)."""
        for walk_root, _dirs, files in os.walk(src):
            rel_dir = os.path.relpath(walk_root, src)
            target = os.path.normpath(os.path.join(dst, rel_dir))
            os.makedirs(target, exist_ok=True)
            for fn in files:
                if os.path.normpath(os.path.join(rel_dir, fn)) in skip:
                    continue
                s = os.path.join(walk_root, fn)
                d = os.path.join(target, fn)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)

    def read_arrow(self, name: str, columns: list[str] | None = None):
        """The live table as one Arrow table of its registered schema
        (only ``columns``, when given: each file is read projected to
        them), read on the driver -- for metadata-sized, unpartitioned
        tables, or a few columns of a bigger one. Spark writes
        timestamps as INT96, which Arrow reads as naive values that ARE
        the UTC instant: they are labelled UTC, never shifted, so they
        match what ``append_rows`` writes. The result is one chunk:
        ``createDataFrame`` drops the rows after an empty chunk, and
        ``create_table``'s zero-row part file makes one."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(self._driver_schema(name))
        if columns is not None:
            schema = pa.schema([schema.field(c) for c in columns])
        live = self.path(name)
        parts = [schema.empty_table()]
        for rel in self.data_files(name):
            t = pq.read_table(
                os.path.join(live, rel), columns=schema.names, coerce_int96_timestamp_unit="us"
            )
            cols = [t.column(f.name).cast(f.type) for f in schema]
            parts.append(pa.Table.from_arrays(cols, schema=schema))
        return pa.concat_tables(parts).combine_chunks()

    def data_files(self, name: str) -> dict[str, int]:
        """Live data files (path relative to the live dir -> bytes);
        metadata (`_*`, `.*`) excluded. O(file count) listing."""
        return _data_files(self.path(name))

    # -- footer reads ---------------------------------------------------
    # Table-level numbers the parquet footers already hold, read on the
    # driver: metadata-sized work, no Spark job (the same kind of read
    # ``file_ranges`` does).
    def _footers(self, name: str):
        live = self.path(name)
        for rel in self.data_files(name):
            yield rel, pq.read_metadata(os.path.join(live, rel))

    def row_count(self, name: str) -> int:
        """Rows in the live table: the sum of footer ``num_rows``."""
        return sum(md.num_rows for _, md in self._footers(name))

    def column_bytes(self, name: str, columns: list[str]) -> int:
        """Uncompressed bytes of ``columns`` in the live table: the sum
        of their footer column-chunk sizes, what a column-projected
        read of them decodes."""
        total = 0
        for _, md in self._footers(name):
            idx = [md.schema.names.index(c) for c in columns]
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                total += sum(rg.column(j).total_uncompressed_size for j in idx)
        return total

    def max_value(self, name: str, column: str) -> int | None:
        """Largest value of an integer column from the footers' min/max
        statistics (None when the column holds no value). Raises when a
        file holding rows has no usable statistics for the column --
        never falls back silently to a guess or a scan."""
        best = None
        for rel, md in self._footers(name):
            if md.num_rows == 0:
                continue
            names = md.schema.names
            if column not in names:
                raise ValueError(f"{name}: {rel} has rows but no column {column}")
            j = names.index(column)
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                st = rg.column(j).statistics
                if rg.num_rows == 0:
                    continue
                if st is not None and st.physical_type in ("INT32", "INT64"):
                    if st.has_min_max:
                        best = st.max if best is None else max(best, st.max)
                        continue
                    if st.has_null_count and st.null_count == rg.num_rows:
                        continue  # all NULL
                raise ValueError(
                    f"{name}: {rel} row group {i} has no integer min/max statistics "
                    f"for {column}"
                )
        return best

    def file_ranges(
        self, name: str, column: str, dirs: list[str] | None = None
    ) -> dict[str, tuple | None]:
        """Per live data file (path relative to the live dir), the
        (min, max) of ``column`` over all its row groups from the
        parquet footer -- or None when the file cannot be pruned on it:
        the footer is unreadable, the column is absent, a row group
        lacks min/max, or the stats are not numeric (string stats may
        be truncated bounds). ``dirs`` restricts the scan to files
        directly under those relative dirs (e.g. ``["b=3"]``). One
        footer read per file, no Spark job: the per-file stats an ACID
        format keeps in its manifests, and the one footer scan every
        pruning path (``prune_files``, the merge verbs) rests on."""
        live = self.path(name)
        dirs = None if dirs is None else {os.path.normpath(d) for d in dirs}
        return {
            rel: _footer_range(os.path.join(live, rel), column)
            for rel in self.data_files(name)
            if dirs is None or os.path.dirname(rel) in dirs
        }

    def prune_files(self, name: str, ranges: dict[str, tuple]) -> list[str]:
        """Data-skipping file list: the live files whose ``file_ranges``
        for EVERY column in ``ranges`` intersect the given [lo, hi]
        (inclusive); a file without a range on a column cannot be
        pruned on it (never prune blind). This is the manifest-stats
        pruning an ACID format does from its metadata layer, and it
        composes with ``compact(cluster_by=...)``: a z-ordered table
        yields tight per-file boxes, so multi-column predicates skip
        most files."""
        per_col = [(self.file_ranges(name, c), lo, hi) for c, (lo, hi) in ranges.items()]
        return [
            rel
            for rel in self.data_files(name)
            if all(
                (r := fr.get(rel)) is None or (r[0] <= hi and r[1] >= lo)
                for fr, lo, hi in per_col
            )
        ]

    def read_pruned(self, name: str, ranges: dict[str, tuple]) -> DataFrame:
        """Read only the files ``prune_files`` keeps, then apply the
        exact BETWEEN predicates -- result identical to filtering a
        full scan, scan cost proportional to the files actually
        intersecting the query box."""
        from pyspark.sql import functions as F

        keep = self.prune_files(name, ranges)
        df = self.read_files(name, keep) if keep else self.read(name)
        for col, (lo, hi) in ranges.items():
            df = df.filter(F.col(col).between(lo, hi))
        return df

    def compact(
        self,
        name: str,
        target_file_mb: int = 256,
        cluster_by: list[str] | None = None,
        zorder_bits: int = 16,
    ) -> dict:
        """Small-file compaction: rewrite the table so data files
        approach ``target_file_mb``. Incremental appends and streaming
        sinks accrete files; at 100 TB a scan's task count (and the
        NameNode/listing load) is file-bound, so compaction is a
        first-class maintenance op -- the analog of Delta OPTIMIZE /
        Iceberg rewrite_data_files, here over the generation+pointer
        layout (same crash-safe commit as ``overwrite``: the compacted
        generation goes live in one atomic pointer swap; a crash leaves
        the old files live).

        Partitioned tables keep their partition spec; per-partition
        output file counts are sized from the partition's current byte
        share (rows-proportional salt, computed distributedly -- no
        driver loop over partitions). ``cluster_by`` z-orders the
        rewrite on those columns (Delta OPTIMIZE ZORDER BY analog):
        unpartitioned tables range-partition on the z-value so each
        file holds a tight min-max box in every clustered dimension;
        partitioned tables sort within their output files. Returns
        {files_before, files_after, bytes}."""
        from pyspark.sql import functions as F

        from .functions.zorder import zorder_frame, zvalue

        sizes = self.data_files(name)
        files_before = len(sizes)
        total = sum(sizes.values()) or 1
        target = max(1, target_file_mb) * 1024 * 1024
        df = self.read(name)
        pcols = self._partitioning.get(name)
        if not pcols:
            n = max(1, -(-total // target))
            if cluster_by:
                self.overwrite(name, zorder_frame(df, cluster_by, n, zorder_bits))
            else:
                self.overwrite(name, df.repartition(n))
        else:
            counts = df.groupBy(*pcols).agg(F.count(F.lit(1)).alias("__rows"))
            total_rows = df.count() or 1
            data_cols = [c for c in df.columns if c not in pcols]
            per_part = counts.withColumn(
                "__nf",
                F.greatest(
                    F.lit(1),
                    F.ceil(
                        F.col("__rows") / F.lit(total_rows) * F.lit(total) / F.lit(target)
                    ),
                ).cast("int"),
            ).drop("__rows")
            salted = (
                df.join(F.broadcast(per_part), on=list(pcols))
                .withColumn(
                    "__salt",
                    F.pmod(F.hash(*[F.col(c) for c in data_cols]), F.col("__nf")),
                )
                .repartition(*pcols, "__salt")
                .drop("__nf", "__salt")
            )
            if cluster_by:
                salted = salted.sortWithinPartitions(
                    zvalue(df, cluster_by, zorder_bits).alias("__z")
                )
            self.overwrite(name, salted)
        return {
            "files_before": files_before,
            "files_after": len(self.data_files(name)),
            "bytes": total,
        }

    def table_health(self, name: str, small_file_mb: int = 32) -> dict:
        """Maintenance-facing health report: live file count and bytes,
        small-file count/share (files under ``small_file_mb``), and the
        number of retained versions. O(file count) driver listing --
        metadata work, no Spark job (the same cost class as
        ``data_files``)."""
        sizes = self.data_files(name)
        threshold = small_file_mb * 1024 * 1024
        small = sum(1 for s in sizes.values() if s < threshold)
        return {
            "files": len(sizes),
            "bytes": sum(sizes.values()),
            "small_files": small,
            "small_share": (small / len(sizes)) if sizes else 0.0,
            "versions_retained": len(self.history(name)),
        }

    def maybe_compact(
        self,
        name: str,
        target_file_mb: int = 256,
        small_file_mb: int = 32,
        max_small_files: int = 16,
        cluster_by: list[str] | None = None,
    ) -> dict:
        """The compaction TRIGGER (the ``maybe_rebalance_ivf_index``
        pattern applied to tables): measure small-file pressure and
        rewrite ONLY past the threshold -- schedule after ingest
        windows instead of compacting unconditionally, because the
        rewrite costs one full pass over the table while the health
        probe costs a directory listing. Streaming sinks and
        incremental appends accrete one-file-per-batch; at 100 TB the
        scan's task count and listing load are file-bound, so this is
        the maintenance loop a landing zone runs on a cadence.
        Returns {"action": "noop"|"compacted", "health": ...,
        ["result", "health_after"]}."""
        health = self.table_health(name, small_file_mb)
        if health["small_files"] <= max_small_files:
            return {"action": "noop", "health": health}
        result = self.compact(name, target_file_mb, cluster_by)
        return {
            "action": "compacted",
            "health": health,
            "result": result,
            "health_after": self.table_health(name, small_file_mb),
        }


class _Transaction(_WriteVerbs):
    """Write surface inside ``Warehouse.transaction``: the same verbs,
    but each stages its generation without touching the live pointer;
    the owning context manager journals + swaps on clean exit."""

    def __init__(self, wh: Warehouse, names: list[str]):
        self._wh = wh
        self._names = set(names)
        self._staged: dict[str, str] = {}

    def _write(self, name, action, write, carry=None, in_place=False):
        """Stage ``name``'s generation. Writes within one transaction
        COMPOSE: a linked write builds on the already-staged state, not
        the pre-transaction live dir (append-after-append keeps both
        batches; merge-after-append sees the appended rows), and an
        overwrite replaces it. The superseded staged generation is
        removed."""
        if name not in self._names:
            raise ValueError(
                f"table {name} was not declared in transaction({sorted(self._names)})"
            )
        old = self._staged.get(name)
        gen, n = self._wh._stage(name, old or self._wh.path(name), write, carry)
        if gen is not None:
            if old is not None:
                shutil.rmtree(old, ignore_errors=True)
            self._staged[name] = gen
        return n

    def _commit(self) -> None:
        import json

        if not self._staged:
            return
        # the caller (Warehouse.transaction) already holds the global
        # txn guard and every table lock -- flock is not reentrant
        # across fds, so do NOT re-acquire here
        wh = self._wh
        jpath = os.path.join(wh.root, "_txn-" + uuid.uuid4().hex[:8] + ".journal")
        tmp = jpath + ".tmp"
        with open(tmp, "w") as f:
            f.write(
                json.dumps(
                    {
                        "tables": {
                            n: os.path.basename(g) for n, g in self._staged.items()
                        },
                        # Fencing (r5 review): each table's pre-commit
                        # pointer target. Recovery rolls forward only if
                        # the pointer still names this dir -- a pointer
                        # that advanced past it means a later writer
                        # committed after the crash, and swapping back
                        # would silently undo that newer commit.
                        "expect": {
                            n: os.path.basename(wh.path(n)) for n in self._staged
                        },
                    }
                )
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, jpath)  # THE commit point for the whole txn
        for name, gen in sorted(self._staged.items()):
            wh._commit_generation(name, gen, action="txn-overwrite")
        with contextlib.suppress(OSError):
            os.unlink(jpath)
        self._staged = {}


def _read_journal(path: str) -> dict | None:
    """A transaction journal's contents, or None when it is gone -- the
    benign race where a commit unlinks its journal between a directory
    listing and this open. A journal is written whole (tmp file, fsync,
    rename), so one that cannot be parsed was damaged outside this
    module: raise rather than skip it, since skipping would let GC reap
    the generations it names and recovery leave its tables half
    committed."""
    import json

    try:
        with open(path) as f:
            j = json.load(f)
        readable = isinstance(j["tables"], dict)
    except FileNotFoundError:
        return None
    except (ValueError, KeyError, TypeError):
        readable = False
    if not readable:
        raise RuntimeError(
            f"unreadable transaction journal {path}: restore it, or check the "
            "generations it names and remove it by hand"
        )
    return j


def _data_files(root: str) -> dict[str, int]:
    """Data files under ``root`` (relative path -> bytes), skipping
    what Spark's scans skip: `_*`/`.*` files and directories."""
    out: dict[str, int] = {}
    for walk_root, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rel_dir = os.path.relpath(walk_root, root)
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            rel = fn if rel_dir == "." else os.path.join(rel_dir, fn)
            out[rel] = os.path.getsize(os.path.join(walk_root, fn))
    return out


def _footer_range(path: str, column: str) -> tuple | None:
    """(min, max) of ``column`` over every row group of one parquet
    file's footer; None unless every row group has numeric min/max."""
    try:
        md = pq.read_metadata(path)
        j = md.schema.names.index(column)
        lo = hi = None
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    except (OSError, ValueError, KeyError):
        return None
    numeric = isinstance(lo, (int, float)) and isinstance(hi, (int, float))
    return (lo, hi) if numeric else None


def _drop_empty_files(root: str, before: set[str]) -> None:
    """Unlink the zero-row part files a Spark write just added under
    ``root`` (Spark writes one whenever the write's first task has no
    rows, so every empty write leaves one), checking each footer first.
    They stay only when nothing else under ``root`` would carry the
    table's schema."""
    new = [rel for rel in _data_files(root) if rel not in before]
    empty = [rel for rel in new if pq.read_metadata(os.path.join(root, rel)).num_rows == 0]
    if not before and len(empty) == len(new):
        return
    for rel in empty:
        path = os.path.join(root, rel)
        os.unlink(path)
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        with contextlib.suppress(FileNotFoundError):
            os.unlink(crc)


def _arrow_table(schema: T.StructType, rows):
    """``rows`` as an Arrow table of ``schema``'s Arrow types: tuples
    converted as ``createDataFrame`` converts them, or an Arrow table's
    columns of the schema's names cast."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        return rows.select(arrow_schema.names).cast(arrow_schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for f, values, af in zip(schema.fields, columns, arrow_schema):
        if isinstance(f.dataType, T.TimestampType):
            values = [f.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=af.type))
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


# The Arrow table behind each frame ``local_frame`` made, for as long as
# the frame lives: a driver pass handed one of them reads it back here
# instead of collecting it through the JVM.
_LOCAL_TABLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def local_frame(schema: T.StructType, rows: list[tuple], spark=None) -> DataFrame:
    """Rows the driver holds as a DataFrame over a local relation of
    ``spark`` (default: the active session): collecting it runs no
    Spark job."""
    table = _arrow_table(schema, rows)
    df = (spark or SparkSession.active()).createDataFrame(table)
    _LOCAL_TABLES[df] = table
    return df


def driver_rows(df: DataFrame, columns: list[str]) -> list[dict]:
    """``columns`` of every row of ``df`` as dicts. A frame ``local_frame``
    made is read from its Arrow table, with no call into the JVM; any
    other frame is collected. For frames without timestamp columns (Arrow
    hands those back zone-aware, ``collect`` naive)."""
    table = _LOCAL_TABLES.get(df)
    if table is not None:
        return table.select(columns).to_pylist()
    return [r.asDict() for r in df.select(*columns).collect()]
