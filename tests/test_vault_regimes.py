"""load_business_key's two regimes: the driver regime (one staging read,
then each leg dedups, anti-joins and appends on the driver) and the
Spark regime (one anti-join write per leg). On the same loads both must
leave the same live rows in every hub and satellite, load_ts included,
and return the same counts; the staged-row bound, date partitioning and
ghost init pick the regime. A vault is held in the Spark regime by
turning staging off (``builder.stage_business_key`` returning None)."""

import datetime
import decimal
import random
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_auto_dw_spark.build import builder, loader
from pg_auto_dw_spark.build.builder import build_and_load, load_business_key
from pg_auto_dw_spark.build.ddl import hub_schema, satellite_schemas
from pg_auto_dw_spark.build.spec import business_key_from_spec, dv_schema_from_spec
from pg_auto_dw_spark.warehouse import Warehouse

DRIVER, SPARK = "driver", "spark"
LOAD_TS = datetime.datetime(2024, 6, 2, 8, 15, 30, 123456)

SOURCE = T.StructType(
    [
        T.StructField("k1", T.StringType()),
        T.StructField("k2", T.IntegerType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("price", T.DecimalType(15, 2)),
        T.StructField("born", T.DateType()),
        T.StructField("seen", T.TimestampType()),
        T.StructField("note", T.StringType()),
    ]
)
BK = business_key_from_spec(
    "src",
    "thing",
    "thing",
    [("k1", "string"), ("k2", "int")],
    [
        ("amount", "double", False),
        ("price", "decimal(15,2)", False),
        ("born", "date", False),
        ("seen", "timestamp", True),
        ("note", "string", True),
    ],
)
TABLES = ["dw.hub_thing"] + [f"dw.sat_{k}" for k in BK.satellites()]


def _row(rng, keys):
    return (
        *rng.choice(keys),
        rng.choice([None, 0.5, 1234.25, 12_345_678.91, 98_765_432.1, -1e7]),
        rng.choice([None, decimal.Decimal("0.00"), decimal.Decimal("-12.34"),
                    decimal.Decimal("9999999999999.99")]),
        rng.choice([None, datetime.date(1969, 12, 31), datetime.date(2024, 2, 29)]),
        rng.choice([None, datetime.datetime(2024, 3, 10, 2, 30),
                    datetime.datetime(2024, 11, 3, 1, 30, 0, 5),
                    datetime.datetime(1999, 12, 31, 23, 59, 59, 999999)]),
        rng.choice([None, "", "x", "a,b"]),
    )


def _deltas(seed, n_deltas=3, rows=60):
    """Seeded deltas over a small key pool: keys repeat within and
    across deltas, and a repeated key often carries new descriptors."""
    rng = random.Random(seed)
    keys = [(rng.choice(["a", "b", "c", None]), rng.choice([1, 2, 3, None])) for _ in range(25)]
    return [[_row(rng, keys) for _ in range(rows)] for _ in range(n_deltas)]


def _frame(spark, rows):
    # one partition, so "the first row of a duplicate key" is the same
    # row in Spark's dropDuplicates and in the driver's dedup
    return spark.createDataFrame(rows, SOURCE).coalesce(1)


def _vault(spark, root):
    wh = Warehouse(spark, root)
    wh.create_table("dw.hub_thing", hub_schema(BK))
    for name, schema in satellite_schemas(BK).items():
        wh.create_table(f"dw.{name}", schema)
    return wh


@pytest.fixture
def regimes(monkeypatch):
    """Record which leg ran for each target: 'driver' or 'spark'."""
    seen = []
    for attr, regime in (("_append_new_rows", "driver"), ("_append_new", "spark")):
        real = getattr(loader, attr)

        def spy(wh, table, *a, _real=real, _regime=regime, **k):
            seen.append((table, _regime))
            return _real(wh, table, *a, **k)

        monkeypatch.setattr(loader, attr, spy)
    return seen


def _load(regime, wh, source):
    with pytest.MonkeyPatch.context() as mp:
        if regime == SPARK:
            mp.setattr(builder, "stage_business_key", lambda *a, **k: None)
        return load_business_key(wh, source, BK, load_ts=LOAD_TS)


def _live(wh):
    """Every target's live rows, timestamps as UTC microseconds."""
    out = {}
    for t in TABLES:
        df = wh.read(t)
        cols = [
            F.unix_micros(f.name).alias(f.name) if isinstance(f.dataType, T.TimestampType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
        out[t] = (df.columns, sorted((tuple(r) for r in df.select(*cols).collect()), key=repr))
    return out


def _both(spark, tmp_path, regimes, deltas, first=None):
    """Deploy both vaults with ``first`` (ghost init: Spark regime in
    both), then load each delta into each; assert every delta took the
    regime its vault is forced to, and that counts and live rows agree."""
    whs = {r: _vault(spark, str(tmp_path / r)) for r in (DRIVER, SPARK)}
    first = first if first is not None else deltas[0]
    for regime, wh in whs.items():
        _load(regime, wh, _frame(spark, first))
    assert {r for _, r in regimes} == {SPARK}
    counts = {DRIVER: None}
    for rows in deltas:
        for regime, wh in whs.items():
            regimes.clear()
            counts[regime] = _load(regime, wh, _frame(spark, rows))
            assert sorted(regimes) == sorted((t, regime) for t in TABLES)
        assert counts[DRIVER] == counts[SPARK]
        assert _live(whs[DRIVER]) == _live(whs[SPARK])
    return whs, counts[DRIVER]


@pytest.mark.parametrize("seed", [5, 23])
def test_regimes_agree_on_seeded_deltas(spark, tmp_path, regimes, seed):
    deltas = _deltas(seed)
    whs, counts = _both(spark, tmp_path, regimes, deltas[1:], first=deltas[0])
    assert counts["sat_thing"] > 0
    # a re-run of the last delta appends nothing, in both regimes
    for regime, wh in whs.items():
        again = _load(regime, wh, _frame(spark, deltas[-1]))
        assert again == {t.removeprefix("dw."): 0 for t in TABLES}


def test_regimes_agree_on_null_key_parts(spark, tmp_path, regimes):
    """concat_ws skips NULLs, so ('1', NULL) and (NULL, 1) join to the
    text '1', and (NULL, NULL) and ('', NULL) to ''. Both regimes keep
    the first row of each key text, NULL parts and all."""
    d = (None, None, None, None, None)
    first = [("z", 9, *d)]
    delta = [("1", None, 1.0, *d[1:]), (None, 1, 2.0, *d[1:]), ("a", None, 3.0, *d[1:]),
             (None, None, 4.0, *d[1:]), ("", None, 5.0, *d[1:])]
    _, counts = _both(spark, tmp_path, regimes, [delta], first=first)
    # texts '1', 'a' and '' (the last two NULL parts and '' join equal)
    assert counts["hub_thing"] == 3


def test_regimes_agree_on_ghost_key(spark, tmp_path, regimes):
    """A source key rendering as '-1' is the ghost's key: no hub row, but
    its satellite rows load, in both regimes."""
    d = (None, None, None, None, None)
    delta = [("-1", None, 1.0, *d[1:]), (None, -2, 2.0, *d[1:]), ("q", 7, 3.0, *d[1:])]
    whs, counts = _both(spark, tmp_path, regimes, [delta], first=[("z", 9, *d)])
    assert counts["hub_thing"] == 1
    assert counts["sat_thing"] == 3
    hub = whs[DRIVER].read("dw.hub_thing")
    assert hub.filter(F.col("record_source") == "SYSTEM").count() == 2


def test_regimes_agree_under_new_york_time(spark, tmp_path, monkeypatch, regimes):
    """Naive source timestamps and load_ts read in the driver's zone,
    one in the spring-forward gap, with the session zone off UTC too."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        gap = datetime.datetime(2024, 3, 10, 2, 30)
        monkeypatch.setattr(
            "tests.test_vault_regimes.LOAD_TS", datetime.datetime(2024, 3, 10, 2, 45)
        )
        deltas = _deltas(7, n_deltas=2, rows=30)
        deltas[1] += [("ny", 1, 1.0, None, None, gap, "gap")]
        _both(spark, tmp_path, regimes, deltas[1:], first=deltas[0])
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
        monkeypatch.undo()
        time.tzset()


def test_empty_delta_leaves_no_trace(spark, tmp_path, regimes):
    whs, _ = _both(spark, tmp_path, regimes, [], first=_deltas(3)[0])
    for regime, wh in whs.items():
        before = {t: (wh.data_files(t), wh.history(t)) for t in TABLES}
        regimes.clear()
        counts = _load(regime, wh, _frame(spark, []))
        assert counts == {t.removeprefix("dw."): 0 for t in TABLES}
        assert {t: (wh.data_files(t), wh.history(t)) for t in TABLES} == before
        assert {r for _, r in regimes} == {regime}


@pytest.mark.parametrize("on_disk", [False, True], ids=["in_memory", "parquet"])
def test_bound_is_inclusive(spark, tmp_path, monkeypatch, regimes, on_disk):
    """A delta of exactly ``STAGE_DRIVER_ROWS`` rows stages on the driver;
    one row more runs the Spark legs; both give the same vault. An
    in-memory delta is judged by the bounded staging read; a parquet
    delta by its footers, so above the bound it is never read."""
    deltas = _deltas(11, n_deltas=2, rows=40)
    delta = _frame(spark, deltas[1])
    if on_disk:
        delta.write.parquet(str(tmp_path / "delta"))
        delta = spark.read.parquet(str(tmp_path / "delta"))
    reads = []
    real_legs = loader._legs
    monkeypatch.setattr(loader, "_legs", lambda *a: reads.append(1) or real_legs(*a))
    whs = {}
    for name, bound in (("at", 40), ("over", 39)):
        monkeypatch.setattr(loader, "STAGE_DRIVER_ROWS", bound)
        wh = whs[name] = _vault(spark, str(tmp_path / name))
        _load(DRIVER, wh, _frame(spark, deltas[0]))
        regimes.clear()
        reads.clear()
        _load(DRIVER, wh, delta)
        want = DRIVER if name == "at" else SPARK
        assert sorted(regimes) == sorted((t, want) for t in TABLES)
        assert len(reads) == (0 if on_disk and name == "over" else 1)
    assert _live(whs["at"]) == _live(whs["over"])


def test_partitioned_vault_stays_in_spark(spark, tmp_path, regimes):
    wh = Warehouse(spark, str(tmp_path / "p"))
    dv = dv_schema_from_spec("dw", [BK])
    deltas = _deltas(13, n_deltas=2, rows=20)
    build_and_load(wh, lambda *_: _frame(spark, deltas[0]), dv, LOAD_TS, partition_by_load_date=True)
    regimes.clear()
    load_business_key(wh, _frame(spark, deltas[1]), BK, load_ts=LOAD_TS)
    assert sorted(regimes) == sorted((t, "spark") for t in TABLES)
