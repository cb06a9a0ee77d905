"""Benchmark entry point: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload dv_incremental --seed 1 --seconds 15 --trace 0

Run from the repository root. The run builds a local Spark session with
one core per available CPU, generates its inputs from ``--seed``, sets
the workload up (several times where set-up is cheap; ``setup_s`` is the
median), then runs operations back to back for ``--seconds`` seconds (at
least two of the workload's primary kind) and checks each one. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, named and with units as BENCHMARK.json lists
them. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` every other cycle of the workload's op pattern runs traced
and the metrics are the per-layer ones (see ``tracing.py``), plus the
tracing overhead measured against the untraced operations of the same
run.

Everything the run writes stays under ``.perfbench/`` in the repository
root: a scratch directory (removed at exit) and
``.perfbench/results/<workload>-seed<seed>-trace<0|1>.json`` with every
operation sample, the set-up samples, the machine calibration and, for
a traced run, every span.

``--smoke`` shrinks every input and runs a handful of operations; the
benchmark's own tests use it.

``bench.py`` at the repository root is a different tool and stays as it
is: the per-query regression canary over the oracle-checked queries.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PRIMARY_OPS = 2
# set-ups per run (setup_s is their median): pinning the corpus takes a
# fraction of a second; a vault deploy or a catalog include+classify
# takes seconds, so those set up once to keep a run within its budget
SETUPS = {"dv_incremental": 1, "corpus_dedup": 7, "catalog_churn": 1}
SMOKE_OPS = {"dv_incremental": 6, "corpus_dedup": 1, "catalog_churn": 3}


def metric_units(trace: int) -> dict[str, str]:
    """Name -> unit of every metric a run prints, as BENCHMARK.json lists
    them: the end-to-end ones, or with ``--trace 1`` the per-layer ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["dv_incremental", "corpus_dedup", "catalog_churn"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def quantiles(values: list[float]) -> dict:
    """Median with the sample count it rests on."""
    return {"n": len(values), "p50": statistics.median(values) if values else None}


def job_floor_ms(spark) -> float:
    """Median latency of a trivial one-task job (every Spark job pays it)."""
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(10, numPartitions=1).count()
        runs.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(runs)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and fix the JVM settings that move peak RSS from run to run: a 2g
    heap, the serial collector (G1 grows the heap by measured GC time,
    so its size follows the machine's load; the serial collector grows
    it by occupancy) and two malloc arenas (the JVM's many threads
    otherwise each touch an arena of their own)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:+UseSerialGC" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM to exit, so its peak RSS is
    reported by RUSAGE_CHILDREN and no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, spark, work: str) -> tuple[dict, dict, list]:
    import tracing
    import workloads

    wl = workloads.WORKLOADS[args.workload](
        spark, tracing.Tracer(spark), work, args.seed, args.smoke,
        1 if args.smoke else SETUPS[args.workload],
    )
    tracer = wl.tracer
    calibration = {
        "job_floor_ms_before": job_floor_ms(spark),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "python": platform.python_version(),
    }
    if args.trace:
        workloads.install_spans(tracer, wl)
        tracer.active = True
    setup = wl.setup()
    if args.trace:
        tracer.collect_stages(tracer.spans)
        setup["counts"] = tracer.counts
        tracer.counts = {}
        tracer.active = False
    n_setup_spans = len(tracer.spans)

    ops, op_gaps = [], {}
    t_start = time.perf_counter()
    i = 0
    while True:
        primaries = sum(1 for o in ops if o.kind == wl.primary)
        errored = any(o.kind == "error" for o in ops)
        if args.smoke:
            if i >= SMOKE_OPS[wl.name]:
                break
        elif time.perf_counter() - t_start >= args.seconds and (
            primaries >= MIN_PRIMARY_OPS or errored
        ):
            break
        traced = bool(args.trace) and (i // wl.cycle) % 2 == 1
        if traced:
            tracer.active, tracer.op = True, i
            root = tracer.open("bench", f"op {i}")
        try:
            res = wl.op(i)
        except Exception as exc:  # an op that raises counts as failed; the run goes on
            traceback.print_exc(file=sys.stderr)
            res = workloads.OpResult("error", 0.0, False, note=repr(exc))
        finally:
            if traced:
                tracer.close(root)
                tracer.active = False
        if traced:
            spans = [s for s in tracer.spans[n_setup_spans:] if s.op == i]
            covered = tracing.covered_seconds(tracer.collect_stages(spans))
            op_gaps[i] = res.seconds - covered
        if not res.ok:
            print(f"op {i} {res.kind} failed: {res.note}", file=sys.stderr)
        ops.append(res)
        i += 1
    measure_s = time.perf_counter() - t_start
    calibration["job_floor_ms_after"] = job_floor_ms(spark)

    primary = [o for o in ops if o.kind == wl.primary]
    prim_s = [o.seconds for o in primary]
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "smoke": args.smoke,
        "calibration": calibration,
        "setup": setup,
        "measure_s": measure_s,
        "samples": [o.__dict__ for o in ops],
        "quantiles": {
            kind: quantiles([o.seconds for o in ops if o.kind == kind])
            for kind in sorted({o.kind for o in ops})
        },
    }
    metrics = {
        "setup_s": setup["setup_s"],
        "op_p50_s": statistics.median(prim_s) if prim_s else 0.0,
        # rows the pushes appended (dv_incremental), documents in
        # (corpus_dedup) or status rows read (catalog_churn), per second
        "rows_per_s": sum(o.rows for o in primary) / sum(prim_s) if primary else 0.0,
    }
    if args.trace:
        metrics = layer_metrics(wl, tracer, ops, op_gaps, calibration, n_setup_spans)
        detail["spans"] = [s.record() for s in tracer.spans]
        detail["counts"] = tracer.counts
    return metrics, detail, ops


def layer_metrics(wl, tracer, ops, op_gaps, calibration, n_setup_spans) -> dict:
    import tracing

    traced = sorted(op_gaps)
    n = max(len(traced), 1)
    spans = tracer.spans[n_setup_spans:]
    out = {}
    for layer, fields in tracing.layer_totals(spans).items():
        for field, total in fields.items():
            out[f"{layer}.{field}"] = total / n
    units = metric_units(1)
    c = tracer.counts
    for name in units:
        if name not in out and name.split(".")[0] in tracing.LAYERS:
            out[name] = c.get(name, 0) / n
    out["catalog.change_ratio"] = c.get("catalog.scd2_actions", 0) / max(
        c.get("catalog.snapshot_rows", 0), 1
    )
    out["build.append_ratio"] = c.get("build.rows_appended", 0) / max(
        c.get("build.rows_staged", 0), 1
    )
    out.update({"warehouse.live_files": 0, "warehouse.vault_bytes_per_row": 0.0})
    out.update(wl.end_counts())
    out["spark.job_floor_ms"] = calibration["job_floor_ms_after"]
    out["spark.jobs_per_op"] = sum(len(s.jobs) for s in spans) / n
    out["spark.driver_gap_ms"] = 1e3 * sum(op_gaps.values()) / n
    untraced = [o.seconds for i, o in enumerate(ops) if o.kind == wl.primary and i not in op_gaps]
    traced_s = [o.seconds for i, o in enumerate(ops) if o.kind == wl.primary and i in op_gaps]
    u = statistics.median(untraced) if untraced else 0.0
    t = statistics.median(traced_s) if traced_s else 0.0
    out["trace.untraced_op_p50_s"] = u
    out["trace.traced_op_p50_s"] = t
    out["trace.overhead_ratio"] = t / u - 1 if u else 0.0
    return {k: out[k] for k in units}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    prepare_environment(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        import pg_auto_dw_spark  # noqa: F401  (the program under test)
        from pg_auto_dw_spark.session import get_spark
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"cannot import the program: {exc}", file=sys.stderr)
        return 2

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        metrics, detail, ops = run(args, spark, work)
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    rss_kb = {
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
        "jvm": resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss,
    }
    units = metric_units(args.trace)
    if not args.trace:
        metrics["peak_rss_mb"] = sum(rss_kb.values()) / 1024
    failed = sum(1 for o in ops if not o.ok)
    result = {
        "correct": bool(ops) and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    detail["result"] = result
    detail["peak_rss_kb"] = rss_kb
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
