"""connected_components' two regimes: the driver union-find (the pairs
fit in ``CC_DRIVER_EDGES``) and the Spark large-star/small-star rounds
(they do not). Both must give the same rows on every graph shape,
self-loops and long chains included; the bound picks the regime; the
driver regime costs one Spark job; the Spark rounds run no Python and
keep the plan's size estimate flat however many rounds they take."""

import random
import time
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from pg_auto_dw_spark.functions import dedup
from tests.test_catalog_crawl import _wait_for_listener

DRIVER, SPARK = 10**9, 0
# the Spark regime spread over several partitions, so each round's
# window mins and distinct shuffle across partitions
SPREAD = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


@pytest.fixture
def spread(spark):
    saved = {k: spark.conf.get(k) for k in SPREAD}
    for k, v in SPREAD.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _graph(seed: int):
    """Seeded (edges, isolated ids): chains of up to 64 nodes, stars and
    cliques over shuffled ids (so a component's min sits anywhere in
    it), edges in random orientation with some repeated."""
    rng = random.Random(seed)
    ids = rng.sample(range(100_000), 1_000)
    edges, pos = [], 0

    def take(n):
        nonlocal pos
        pos += n
        return ids[pos - n:pos]

    for _ in range(4):
        chain = take(rng.randint(2, 64))
        edges += list(zip(chain, chain[1:]))
        center, *leaves = take(rng.randint(2, 12))
        edges += [(center, leaf) for leaf in leaves]
        clique = take(rng.randint(2, 6))
        edges += [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]]
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    edges += rng.sample(edges, 5)
    rng.shuffle(edges)
    return edges, take(6)


def _chain(n: int, seed: int):
    """Edges of one n-node chain over shuffled ids, in random orientation."""
    rng = random.Random(seed)
    ids = rng.sample(range(100_000), n)
    return [(a, b) if rng.random() < 0.5 else (b, a) for a, b in zip(ids, ids[1:])]


def _expected(edges, node_ids):
    """(id, min id of its component) by breadth-first search."""
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    out = {}
    for start in list(adj) + list(node_ids):
        if start in out:
            continue
        comp, todo = {start}, [start]
        while todo:
            for nxt in adj[todo.pop()] - comp:
                comp.add(nxt)
                todo.append(nxt)
        out.update((x, min(comp)) for x in comp)
    return sorted(out.items())


def _run(monkeypatch, bound, pairs, nodes=None, id_col="doc_id"):
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", bound)
    got = dedup.connected_components(pairs, nodes=nodes, id_col=id_col)
    assert got.columns == [id_col, "cluster_id"]
    return sorted(tuple(r) for r in got.collect())


@pytest.mark.parametrize("seed, spread_out", [(3, True), (17, False)])
def test_regimes_agree_on_seeded_graphs(request, spark, monkeypatch, seed, spread_out):
    if spread_out:  # seed 3 has a 56-node chain: 6 rounds, the costliest case
        request.getfixturevalue("spread")
    edges, isolated = _graph(seed)
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    endpoints = {x for e in edges for x in e}
    nodes = spark.createDataFrame(
        [(x,) for x in sorted(endpoints) + isolated], "doc_id bigint"
    )
    want = _expected(edges, isolated)
    assert _run(monkeypatch, SPARK, pairs, nodes) == want
    assert _run(monkeypatch, DRIVER, pairs, nodes) == want
    # nodes=None: the edge endpoints only
    assert _run(monkeypatch, DRIVER, pairs) == [r for r in want if r[0] in endpoints]


def test_regimes_agree_on_empty_pairs(spark, monkeypatch):
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    nodes = spark.range(3).select(F.col("id").alias("doc_id"))
    want = [(0, 0), (1, 1), (2, 2)]
    assert _run(monkeypatch, DRIVER, pairs, nodes) == want
    # no pairs frame, not even an empty one, fits a negative bound
    assert _run(monkeypatch, -1, pairs, nodes) == want
    assert _run(monkeypatch, DRIVER, pairs) == []
    assert _run(monkeypatch, -1, pairs) == []


def test_regimes_agree_on_pairs_spread_thinner_than_partitions(spark, spread, monkeypatch):
    edges = [(9, 4), (4, 7), (1, 2), (7, 8)]
    pairs = spark.sparkContext.parallelize(edges, 16).toDF("id_a bigint, id_b bigint")
    assert pairs.rdd.getNumPartitions() > len(edges)
    want = [(1, 1), (2, 1), (4, 4), (7, 4), (8, 4), (9, 4)]
    assert _run(monkeypatch, DRIVER, pairs) == want
    assert _run(monkeypatch, SPARK, pairs) == want


def test_regimes_agree_on_non_ascii_string_ids(spark, spread, monkeypatch):
    """Python ``<`` on str (code points) must order ids as Spark does
    (UTF-8 bytes). U+FB00 sorts below U+1F600 in both, but above it in
    UTF-16 code units, so one component holds both."""
    edges = [("😀", "ﬀ"), ("ﬀ", "中"), ("é", "Z"), ("Z", "z"), ("a", "ä")]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    nodes = spark.createDataFrame(
        [(x,) for e in edges for x in e] + [("ö",)], "key string"
    )
    want = _expected(edges, ["ö"])
    assert ("😀", "中") in want
    assert _run(monkeypatch, DRIVER, pairs, nodes, "key") == want
    assert _run(monkeypatch, SPARK, pairs, nodes, "key") == want


@pytest.mark.parametrize(
    "edges",
    [
        # an id whose only pair is a self-loop is still an edge endpoint
        pytest.param([(7, 7), (3, 2), (2, 2), (5, 9), (9, 9)], id="self-loops"),
        # converges under CC_MAX_ROUNDS (the Spark regime raises otherwise)
        pytest.param(_chain(1_000, 5), id="chain-1000"),
    ],
)
def test_regimes_agree_on_endpoints_only(spark, spread, monkeypatch, edges):
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    want = _expected(edges, [])
    assert _run(monkeypatch, SPARK, pairs) == want
    assert _run(monkeypatch, DRIVER, pairs) == want


@pytest.fixture
def pins(spark, monkeypatch):
    """Physical plans of the frames pinned with localCheckpoint, in order."""
    cls = type(spark.range(1))
    pin = cls.localCheckpoint
    plans = []

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return pin(df, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return plans


def test_spark_regime_plans_no_python(spark, monkeypatch, pins):
    """No pinned round and no result plan holds a Python node, so no
    worker has to import this package."""
    pairs = spark.createDataFrame(_chain(20, 1), "id_a bigint, id_b bigint")
    nodes = spark.range(30).select(F.col("id").alias("doc_id"))
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", SPARK)
    out = dedup.connected_components(pairs, nodes=nodes)
    plans = pins + [out._jdf.queryExecution().executedPlan().toString()]
    assert len(plans) > 3
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert not [p for p in plans if node in p], node


def test_spark_regime_size_estimate_does_not_grow_with_rounds(spark, monkeypatch, pins):
    """Each round's pin carries its plan's size estimate into the next
    round, so a round that doubled it (a union) or squared it (a join of
    the pinned frame with itself) would compound. A star and a shuffled
    chain with as many edges get the same estimate, though the chain
    takes more rounds."""
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", SPARK)

    def estimate(edges):
        pins.clear()
        pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        out = dedup.connected_components(pairs)
        return len(pins), out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    star_pins, star = estimate([(0, i) for i in range(1, 64)])
    chain_pins, chain = estimate(_chain(64, 5))
    assert chain_pins > star_pins + 2
    assert chain == star


@pytest.mark.parametrize("rows, spark_regime", [(3, False), (4, True)])
def test_bound_picks_the_regime(spark, monkeypatch, rows, spark_regime):
    """Exactly ``CC_DRIVER_EDGES`` pairs rows stay on the driver; one
    more takes the Spark rounds."""
    calls = []
    rounds = dedup._star_labels
    monkeypatch.setattr(dedup, "_star_labels", lambda *a: calls.append(a) or rounds(*a))
    pairs = spark.createDataFrame([(i, i + 1) for i in range(rows)], "id_a bigint, id_b bigint")
    assert _run(monkeypatch, 3, pairs) == [(i, 0) for i in range(rows + 1)]
    assert bool(calls) == spark_regime


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"cc-{time.monotonic_ns()}"
    sc.setJobGroup(group, "connected_components job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _wait_for_listener(sc)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_regime_runs_one_job_and_hands_spark_one_chunk(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a bigint, id_b bigint"
    ).localCheckpoint(eager=True)
    tables = []
    create = spark.createDataFrame
    monkeypatch.setattr(spark, "createDataFrame", lambda t: tables.append(t) or create(t))
    monkeypatch.setattr(dedup, "CC_DRIVER_EDGES", DRIVER)
    out, call_jobs = _jobs(spark, lambda: dedup.connected_components(pairs))
    rows, collect_jobs = _jobs(spark, out.collect)
    assert (call_jobs, collect_jobs) == (1, 0)
    assert sorted(tuple(r) for r in rows) == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]
    assert [{c.num_chunks for c in t.columns} for t in tables] == [{1}]
