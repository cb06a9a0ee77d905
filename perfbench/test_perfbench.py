"""Tests of the benchmark itself: the input generators' bookkeeping,
the statistics helpers, and a tiny end-to-end run of every workload.

    python3 -m pytest perfbench -q

The end-to-end runs use ``--smoke`` (sf0.001, a few operations each) and
take about a minute per workload, one Spark JVM each.
"""

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from tracing import covered_seconds  # noqa: E402


def test_median_of_even_count_is_the_mean_of_the_middle_pair():
    assert run.quantiles([4.0, 1.0, 3.0, 2.0]) == {"n": 4, "p50": 2.5}


def test_covered_seconds_merges_overlaps():
    assert covered_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered_seconds([]) == 0


def test_inputs_are_a_function_of_the_seed():
    a, b = inputs.tpch_tables(5, 0.001), inputs.tpch_tables(5, 0.001)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["customer"].equals(inputs.tpch_tables(6, 0.001)["customer"])
    assert inputs.corpus(5, 10, 3).table.equals(inputs.corpus(5, 10, 3).table)


def test_corpus_records_each_copy_and_its_edits():
    c = inputs.corpus(5, 10, 3)
    text = dict(zip(c.table.column("doc_id").to_pylist(), c.table.column("text").to_pylist()))
    originals = {c.base[d]: text[d] for d in text if (d - 1) % 3 == 0}
    for d, t in text.items():
        diff = sum(a != b for a, b in zip(t.split(), originals[c.base[d]].split()))
        assert diff == c.edits[d]


def test_delta_bookkeeping_matches_a_fresh_expectation():
    tables = inputs.tpch_tables(1, 0.001)
    exp = inputs.expectations(tables, ("customer", "orders"))
    sizes = {t: tables[t].num_rows for t in ("customer", "orders")}
    rng = np.random.default_rng(0)
    deltas = [inputs.make_delta(rng, op, "customer", exp, sizes, 40) for op in (1, 2)]
    assert sizes["customer"] == tables["customer"].num_rows + 40
    for d in deltas:
        assert d.data.num_rows == 40 and d.new_keys == 20 and d.changed
    # the incremental fingerprint equals one recomputed from scratch
    fresh = inputs.VaultExpectation(exp["customer"].key_cols)
    for key, rendered in exp["customer"].rows.items():
        fresh.upsert(key, dict(rendered))
    assert fresh.fingerprint() == exp["customer"].fingerprint()
    hub, sats = inputs.expected_push_counts(deltas[0], {"s": ["c_name"], "t": ["c_nationkey"]})
    # c_nationkey is never changed, so only new keys reach satellite t
    assert hub == 20 and sats["t"] == 20 and sats["s"] >= 20


def test_churn_counts_follow_the_table_states():
    tables = inputs.catalog_tables(1, 6, 5)
    rng = np.random.default_rng(1)
    dropped = set()
    for _ in range(10):
        before = {t.name: t.dropped for t in tables}
        step = inputs.churn_step(rng, tables, 3)
        assert len(step.changed) == 3
        assert step.counts["resurrected"] == len(step.readded)
        assert all(before[n] is not None for n in step.readded)
        assert step.counts["closed"] == step.counts["inserted"] == len(step.reclassified)
        dropped = {t.name for t in tables if t.dropped is not None}
    assert all(len(t.columns) == 5 - (t.name in dropped) for t in tables)


def test_benchmark_json_lists_runnable_workloads():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.SMOKE_OPS)


@pytest.mark.parametrize(
    "workload,trace",
    [("dv_incremental", 0), ("corpus_dedup", 0), ("catalog_churn", 1)],
)
def test_smoke_run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.metric_units(trace)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
