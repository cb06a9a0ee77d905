"""The benchmark workloads: each sets itself up, runs one operation at a
time (closed loop, one client) and checks every operation's output
against the expectation its inputs carry.

- ``dv_incremental``: a deployed raw vault under incremental pushes and
  business-view reads.
- ``corpus_dedup``: the training-corpus pipeline followed by MinHash-LSH,
  connected components and keep-best-per-cluster.
- ``catalog_churn``: background-worker cycles (crawl, classify, status
  read) over a schema-only catalog with seeded schema changes.
"""

from __future__ import annotations

import ast
import datetime
import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from tracing import pin

from pg_auto_dw_spark import api, pipeline
from pg_auto_dw_spark.build import builder, loader, views
from pg_auto_dw_spark.catalog.registry import SourceRegistry, TableMeta
from pg_auto_dw_spark.classify.client import Classifier, DeterministicStub
from pg_auto_dw_spark.functions import dedup
from pg_auto_dw_spark.warehouse import Warehouse

LLM_ROUND_TRIP_S = 0.001


@dataclass
class OpResult:
    kind: str
    seconds: float
    ok: bool
    rows: int = 0
    note: str = ""


class LogicalClock:
    """Seeded wall clock for the program: starts at a seed-derived
    instant and moves only when the benchmark ticks it."""

    def __init__(self, seed: int):
        self.now = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=seed % 365)

    def __call__(self) -> datetime.datetime:
        return self.now

    def tick(self, seconds: int = 10) -> datetime.datetime:
        self.now += datetime.timedelta(seconds=seconds)
        return self.now


class SimulatedLLM:
    """``DeterministicStub`` answers after a fixed simulated round trip
    (there is no model server here). Counts calls, time spent waiting
    and retry prompts (the client re-asks with a hint after a bad reply)."""

    def __init__(self, tracer):
        self.stub = DeterministicStub()
        self.tracer = tracer

    def __call__(self, prompt: str) -> dict:
        t0 = time.perf_counter()
        time.sleep(LLM_ROUND_TRIP_S)
        reply = self.stub(prompt)
        if self.tracer.active:
            self.tracer.count("classify.transport_calls")
            self.tracer.count("classify.transport_wait_s", time.perf_counter() - t0)
            if "Hint: Please ensure" in prompt:
                self.tracer.count("classify.retry_calls")
        return reply


def fingerprint(df, cols: list) -> tuple[int, int]:
    """(row count, sum of crc32 over the '|'-joined text of ``cols``):
    one aggregate that forces every column it is given."""
    line = F.concat_ws("|", *cols)
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(line)).alias("crc")).collect()[0]
    return row["n"], row["crc"] or 0


def render_col(name: str, spark_type: str):
    """Column as text, rendered like ``inputs.render``."""
    c = F.col(name)
    if spark_type in ("double", "float"):
        return c.cast("decimal(38,2)").cast("string")
    if spark_type.startswith("timestamp"):
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    return c.cast("string")


def frame_fingerprint(df) -> tuple[int, int]:
    types = dict(df.dtypes)
    return fingerprint(df, [render_col(c, types[c]) for c in sorted(df.columns)])


class Workload:
    name = ""
    primary = ""  # op kind whose latency is op_p50_s
    cycle = 1  # ops in one repeat of the op pattern (a traced run alternates whole cycles)

    def __init__(self, spark, tracer, work_dir: str, seed: int, smoke: bool, setups: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.smoke = smoke
        self.setups = setups
        self.rng = np.random.default_rng([seed, 7])
        self.clock = LogicalClock(seed)
        # id(source DataFrame) -> rows, for the traced rows_staged count
        self.source_rows: dict[int, int] = {}

    @staticmethod
    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def end_counts(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# dv_incremental
# ---------------------------------------------------------------------------

DV_TABLES = ("customer", "orders")


class DvIncremental(Workload):
    """Deploy the raw vault for customer and orders (the other five
    sources are registered and crawled but not included), then alternate
    read and push: reads alternate between the two business views, a
    push loads a delta into both tables. Only the data is seeded; the op
    pattern is fixed, so every seed runs the same mix, and every push
    follows a read (a push right after a read is consistently slower
    than one after a push, so mixing the two would make the push median
    depend on how many ops fit in the run)."""

    name = "dv_incremental"
    primary = "push"
    cycle = 2
    PUSH_ROWS = 400

    def setup(self) -> dict:
        sf = 0.001 if self.smoke else 0.01
        self.push_rows = 40 if self.smoke else self.PUSH_ROWS
        self.pushes = 0
        tables = inputs.tpch_tables(self.seed, sf)
        self.paths = {
            n: inputs.write_table(t, os.path.join(self.work, "src", f"{n}.parquet"))
            for n, t in tables.items()
        }
        self.exp = inputs.expectations(tables, DV_TABLES)
        self.sizes = {t: tables[t].num_rows for t in DV_TABLES}
        self.registry = SourceRegistry(
            [TableMeta("main", n, pk_columns=k[0], fk_columns=k[1]) for n, k in inputs.KEYS.items()]
        )
        self.transport = SimulatedLLM(self.tracer)
        catalog_root = os.path.join(self.work, "catalog")

        def prep():
            adw = self._autodw(catalog_root)
            adw.source_include("main", "^(" + "|".join(DV_TABLES) + ")$")
            n = adw.classify_pending()
            expected = sum(tables[t].num_columns for t in DV_TABLES)
            if n != expected:
                raise RuntimeError(f"classified {n} columns, expected {expected}")

        prep_s = self.timed(prep)
        deploy_s = []
        for k in range(self.setups):
            root = os.path.join(self.work, f"vault{k}")
            shutil.copytree(catalog_root, root)
            adw = self._autodw(root)
            load_ts = self.clock.tick()
            deploy_s.append(self.timed(lambda: adw.go(load_ts=load_ts)))
            if k + 1 < self.setups:
                shutil.rmtree(root)
        self.adw = adw
        self.dv = adw.latest_dv_schema()
        self.bks = {bk.source_table()[1]: bk for bk in self.dv.business_keys}
        if sorted(self.bks) != sorted(DV_TABLES):
            raise RuntimeError(f"deployed {sorted(self.bks)}, expected {sorted(DV_TABLES)}")
        for table in DV_TABLES:
            got = self._view_fingerprint(table)
            if got != self.exp[table].fingerprint():
                raise RuntimeError(f"deployed {table} view {got} != {self.exp[table].fingerprint()}")
        return {
            "setup_s": prep_s + statistics.median(deploy_s),
            "catalog_prep_s": prep_s,
            "deploy_s": deploy_s,
        }

    def _autodw(self, root: str):
        adw = api.AutoDW(
            self.spark, root, registry=self.registry, clock=self.clock, transport=self.transport
        )
        for n, p in self.paths.items():
            self._register(adw, n, p)
        return adw

    def _register(self, adw, table: str, path: str) -> None:
        df = self.spark.read.parquet(path)
        self.source_rows[id(df)] = pq.read_metadata(path).num_rows
        adw.register_source("main", table, df)

    def _view_fingerprint(self, table: str) -> tuple[int, int]:
        bk = self.bks[table]
        view = views.business_view(self.adw.wh, bk, self.dv.dw_schema)
        types = dict(view.dtypes)
        cols = {p.alias: F.col(f"{p.alias}_bk") for p in bk.business_key_part_links}
        for descriptors in bk.satellites().values():
            for d in descriptors:
                a = d.descriptor_link.alias
                cols[a] = render_col(a, types[a])
        return fingerprint(view, [F.col(f"hub_{bk.name}_hk")] + [cols[c] for c in sorted(cols)])

    def op(self, i: int) -> OpResult:
        if i % 2:
            return self._push(i)
        return self._read(DV_TABLES[(i // 2) % len(DV_TABLES)])

    def _push(self, i: int) -> OpResult:
        """One load cycle: a seeded delta for every deployed table, each
        followed by go('Push-Table', ...)."""
        deltas = {}
        self.pushes += 1
        for table in DV_TABLES:
            d = inputs.make_delta(self.rng, self.pushes, table, self.exp, self.sizes, self.push_rows)
            path = inputs.write_table(d.data, os.path.join(self.work, "delta", f"{i}-{table}.parquet"))
            self._register(self.adw, table, path)
            deltas[table] = d
        load_ts = self.clock.tick()
        t0 = time.perf_counter()
        msgs = {t: self.adw.go("Push-Table", f"main.{t}", load_ts=load_ts) for t in DV_TABLES}
        seconds = time.perf_counter() - t0
        ok, notes, appended = True, [], 0
        for table, d in deltas.items():
            sats = {
                k: [x.descriptor_link.alias for x in v]
                for k, v in self.bks[table].satellites().items()
            }
            want = inputs.expected_push_counts(d, sats)
            m = re.search(r"hub \+(\d+), sats (\{.*\})", msgs[table])
            got = (int(m.group(1)), ast.literal_eval(m.group(2))) if m else None
            ok = ok and got == want
            if got:
                appended += got[0] + sum(got[1].values())
            notes.append(f"{msgs[table]} want {want}")
        return OpResult("push", seconds, ok, appended, "; ".join(notes))

    def _read(self, table: str) -> OpResult:
        t0 = time.perf_counter()
        got = self._view_fingerprint(table)
        seconds = time.perf_counter() - t0
        want = self.exp[table].fingerprint()
        return OpResult("read", seconds, got == want, got[0], f"{table} {got} want {want}")

    def end_counts(self) -> dict:
        wh = self.adw.wh
        files = rows = size = 0
        for bk in self.dv.business_keys:
            names = [f"{self.dv.dw_schema}.hub_{bk.name}"] + [
                f"{self.dv.dw_schema}.sat_{k}" for k in bk.satellites()
            ]
            for name in names:
                live = wh.data_files(name)
                files += len(live)
                size += sum(live.values())
                rows += wh.read(name).count()
        return {"warehouse.live_files": files, "warehouse.vault_bytes_per_row": size / max(rows, 1)}


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """Pipeline + near-duplicate clustering over a pinned corpus. No
    ``cache_key`` is passed anywhere, so every op recomputes from the
    pinned documents."""

    name = "corpus_dedup"
    primary = "corpus"
    # share of planted near-duplicate pairs (a copy with at most one word
    # edited, beside its original) that must end up in one cluster;
    # MinHash-LSH is probabilistic, so a rare miss is allowed
    MIN_NEAR_DUP_RECALL = 0.9

    def setup(self) -> dict:
        base, replicas = (40, 3) if self.smoke else (250, 4)
        self.corpus = inputs.corpus(self.seed, base, replicas)
        self.n_docs = self.corpus.table.num_rows
        path = inputs.write_table(self.corpus.table, os.path.join(self.work, "docs.parquet"))
        pins = []
        for _ in range(self.setups):
            t0 = time.perf_counter()
            self.docs = self.spark.read.parquet(path).localCheckpoint(eager=True)
            pins.append(time.perf_counter() - t0)
        # one checked, untimed op starts the Python workers, compiles the
        # operators' code paths and fixes the reference fingerprints, so
        # the first measured op is not a warm-up sample (it takes about
        # three times as long as the next)
        self.reference = None
        warm = self.op(-1)
        if not warm.ok:
            raise RuntimeError(f"warm-up op failed: {warm.note}")
        return {
            "setup_s": statistics.median(pins),
            "pin_s": pins,
            "docs": self.n_docs,
            "warmup_op_s": warm.seconds,
        }

    def op(self, i: int) -> OpResult:
        t0 = time.perf_counter()
        res = pipeline.build_training_corpus(
            self.docs, config=pipeline.CorpusPipelineConfig(n_shards=8, persist_survivors=True)
        )
        surv = res.survivors
        pairs = dedup.minhash_lsh_candidates(surv)
        clusters = dedup.connected_components(pairs, nodes=surv)
        keep = dedup.keep_best_per_cluster(surv, clusters, "n_chars")
        fps = {
            "sharded": frame_fingerprint(res.sharded),
            "placement": frame_fingerprint(res.placement),
            "clusters": frame_fingerprint(clusters),
            "keep": frame_fingerprint(keep),
        }
        seconds = time.perf_counter() - t0
        if self.reference is None:
            problems = self._check(surv, pairs, clusters, keep, fps)
            ok = not problems
            if ok:
                self.reference = fps
            note = "; ".join(problems) or "checked"
        else:
            ok = fps == self.reference
            note = "fingerprint stable" if ok else f"fingerprint {fps} != {self.reference}"
        res.release()
        return OpResult("corpus", seconds, ok, self.n_docs, note)

    def _check(self, surv, pairs, clusters, keep, fps) -> list[str]:
        """Cluster structure of the first op: every survivor has exactly
        one cluster, no candidate pair crosses clusters, each cluster's
        id is its minimum member, each cluster has one keep row that is
        one of its members, and the planted near duplicates were found:
        fewer clusters than survivors, and the surviving copies with at
        most one word edited share their original's cluster (up to
        ``MIN_NEAR_DUP_RECALL``)."""
        problems = []
        n_surv = fps["sharded"][0]
        ids = surv.select("doc_id")
        stats = clusters.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("docs"),
            F.countDistinct("cluster_id").alias("clusters"),
        ).collect()[0]
        if not (stats["n"] == stats["docs"] == n_surv):
            problems.append(f"clusters cover {stats['docs']} docs in {stats['n']} rows, want {n_surv}")
        if not stats["clusters"] < n_surv:
            problems.append(f"{stats['clusters']} clusters for {n_surv} survivors: no near duplicates")
        near: dict = {}  # original -> clusters of its surviving near copies
        for r in clusters.select("doc_id", "cluster_id").collect():
            if self.corpus.edits[r["doc_id"]] <= 1:
                near.setdefault(self.corpus.base[r["doc_id"]], []).append(r["cluster_id"])
        planted = sum(len(c) - 1 for c in near.values())
        found = sum(len(c) - len(set(c)) for c in near.values())
        if not planted or found < self.MIN_NEAR_DUP_RECALL * planted:
            problems.append(f"{found} of {planted} planted near-duplicate pairs clustered")
        if ids.join(clusters, "doc_id", "left_anti").limit(1).count():
            problems.append("a survivor has no cluster")
        lab = clusters.select(F.col("doc_id").alias("i"), F.col("cluster_id").alias("c"))
        crossing = (
            pairs.join(lab.withColumnRenamed("c", "ca"), F.col("id_a") == F.col("i"))
            .drop("i")
            .join(lab.withColumnRenamed("c", "cb"), F.col("id_b") == F.col("i"))
            .filter(F.col("ca") != F.col("cb"))
            .limit(1)
            .count()
        )
        if crossing:
            problems.append("a candidate pair spans two clusters")
        not_min = (
            clusters.groupBy("cluster_id")
            .agg(F.min("doc_id").alias("m"))
            .filter(F.col("m") != F.col("cluster_id"))
            .limit(1)
            .count()
        )
        if not_min:
            problems.append("a cluster id is not its minimum member")
        kstats = keep.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("cluster_id").alias("c")
        ).collect()[0]
        if not (kstats["n"] == kstats["c"] == stats["clusters"]):
            problems.append(f"{kstats['n']} keep rows for {stats['clusters']} clusters")
        stray = (
            keep.join(lab, F.col("keep_id") == F.col("i"), "left")
            .filter(F.col("c").isNull() | (F.col("c") != F.col("cluster_id")))
            .limit(1)
            .count()
        )
        if stray:
            problems.append("a keep row is not a member of its cluster")
        return problems


# ---------------------------------------------------------------------------
# catalog_churn
# ---------------------------------------------------------------------------


class CatalogChurn(Workload):
    """One background-worker cycle per op: seeded schema changes on a few
    tables, then crawl (with an include pattern when a dropped column
    comes back), classify_pending and the source_column status read."""

    name = "catalog_churn"
    primary = "cycle"
    CHANGES_PER_CYCLE = 4

    def setup(self) -> dict:
        n_tables = 12 if self.smoke else 60
        self.transport = SimulatedLLM(self.tracer)
        times = []
        for k in range(self.setups):
            self.tables = inputs.catalog_tables(self.seed, n_tables, 10)
            adw = api.AutoDW(
                self.spark,
                os.path.join(self.work, f"catalog{k}"),
                clock=self.clock,
                transport=self.transport,
            )
            for t in self.tables:
                adw.register_source("bench", t.name, self.spark.createDataFrame([], t.ddl()))
            n_cols = sum(len(t.columns) for t in self.tables)
            t0 = time.perf_counter()
            adw.source_include("bench")
            n = adw.classify_pending()
            times.append(time.perf_counter() - t0)
            if n != n_cols:
                raise RuntimeError(f"classified {n} columns, expected {n_cols}")
            if k + 1 < self.setups:
                shutil.rmtree(os.path.join(self.work, f"catalog{k}"))
            self.clock.tick()
        self.adw = adw
        return {"setup_s": statistics.median(times), "include_classify_s": times}

    def op(self, i: int) -> OpResult:
        step = inputs.churn_step(self.rng, self.tables, self.CHANGES_PER_CYCLE)
        for t in step.changed:
            self.adw.register_source("bench", t.name, self.spark.createDataFrame([], t.ddl()))
        self.clock.tick()
        include = ("bench", "^(" + "|".join(step.readded) + ")$", ".*") if step.readded else None
        t0 = time.perf_counter()
        counts = self.adw.crawl(include=include) if include else self.adw.crawl()
        n = self.adw.classify_pending()
        status = self.adw.source_column().collect()
        seconds = time.perf_counter() - t0
        by_name = {t.name: t for t in self.tables}
        want_n = sum(len(by_name[name].columns) for name in step.reclassified)
        want_rows = sum(len(t.columns) for t in self.tables)
        queued = sum(1 for r in status if r["status"] == "Queued for Processing")
        ok = counts == step.counts and n == want_n and len(status) == want_rows and not queued
        note = f"crawl {counts} want {step.counts}; classified {n} want {want_n}; status {len(status)} want {want_rows}, {queued} queued"
        return OpResult("cycle", seconds, ok, want_rows, note)


WORKLOADS = {w.name: w for w in (DvIncremental, CorpusDedup, CatalogChurn)}


# ---------------------------------------------------------------------------
# per-layer spans: the public function of each layer, at the name its
# caller looks it up by
# ---------------------------------------------------------------------------


def install_spans(tracer, workload: Workload) -> None:
    t = tracer
    known_rows = getattr(workload, "source_rows", {})

    def pinned(df, *_):
        return pin(df)

    def snapshot_rows(args, kwargs):
        tables = args[1] if len(args) > 1 else kwargs["tables"]
        t.count("catalog.snapshot_rows", sum(len(df.schema.fields) for df in tables.values()))

    def crawl_out(counts, *_):
        t.count("catalog.scd2_actions", sum(counts.values()))
        return counts

    def classify_out(rows, *_):
        t.count("classify.prompts")
        return rows

    def status_out(df, *_):
        df = pin(df)
        with t.overhead():
            t.count("model.status_rows", df.count())
        return df

    def staged(args, kwargs):
        source = args[1] if len(args) > 1 else kwargs["source"]
        t.count("build.rows_staged", known_rows.get(id(source), 0))

    def appended(n, *_):
        t.count("build.rows_appended", n)
        return n

    def files_before(args, kwargs):
        wh, name = args[0], args[1]
        return set(wh.data_files(name)) if wh.exists(name) else set()

    def files_after(result, args, kwargs, before):
        with t.overhead():
            wh, name = args[0], args[1]
            live = wh.data_files(name)
            new = {p: b for p, b in live.items() if p not in before}
            t.count("warehouse.files_written", len(new))
            t.count("warehouse.bytes_written", sum(new.values()))
        return result

    def lsh_out(df, *_):
        df = pin(df)
        with t.overhead():
            t.count("functions.lsh_pairs", df.count())
        return df

    def corpus_out(res, *_):
        # the pin: materialize the persisted survivors inside the span
        n_survivors = res.survivors.count()
        with t.overhead():
            for stage, df in res.stages:
                n = n_survivors if df is res.survivors else df.count()
                t.count(f"pipeline.stage_rows.{stage}", n)
        return res

    t.wrap(api, "scd2_crawl", "catalog", "catalog.scd2.crawl", out=crawl_out)
    t.wrap(api, "catalog_snapshot", "catalog", "introspect.catalog_snapshot", out=pinned, before=snapshot_rows)
    t.wrap(api, "source_table_prompts", "classify", "pending.source_table_prompts", out=pinned)
    t.wrap(Classifier, "classify_table", "classify", "Classifier.classify_table", out=classify_out)
    t.wrap(api, "source_column_df", "model", "status.source_column_df", out=status_out)
    t.wrap(api, "source_table_df", "model", "status.source_table_df", out=status_out)
    for method in ("go", "crawl", "classify_pending", "source_include"):
        t.wrap(api.AutoDW, method, "api", f"AutoDW.{method}")
    t.wrap(api.AutoDW, "_log", "api", "AutoDW._log", before=lambda a, k: t.count("api.log_appends"))
    for module in (loader, builder):
        for fn in ("load_hub", "load_satellite"):
            t.wrap(module, fn, "build", f"loader.{fn}", out=appended, before=staged)
    t.wrap(api, "build_and_load", "build", "builder.build_and_load")
    t.wrap(views, "business_view", "build", "views.business_view", out=pinned)
    t.wrap(Warehouse, "append", "warehouse", "Warehouse.append", out=files_after, before=files_before)
    t.wrap(Warehouse, "overwrite", "warehouse", "Warehouse.overwrite", out=files_after, before=files_before)
    t.wrap(Warehouse, "read", "warehouse", "Warehouse.read")
    t.wrap(dedup, "minhash_lsh_candidates", "functions", "dedup.minhash_lsh_candidates", out=lsh_out)
    t.wrap(dedup, "connected_components", "functions", "dedup.connected_components", out=pinned)
    t.wrap(dedup, "keep_best_per_cluster", "functions", "dedup.keep_best_per_cluster", out=pinned)
    t.wrap(pipeline, "build_training_corpus", "pipeline", "pipeline.build_training_corpus", out=corpus_out)
