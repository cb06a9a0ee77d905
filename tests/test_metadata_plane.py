"""The metadata plane on the driver: the status ladder, the pending-table
prompts and the go() ready set are one pass over the Arrow tables, keep
the reference's SQL semantics rule by rule, and a whole catalog cycle
runs no Spark job."""

import datetime
import itertools
import os
import re
from decimal import Decimal

import pyarrow as pa
import pytest

from pg_auto_dw_spark.api import AutoDW
from pg_auto_dw_spark.catalog.scd2 import SOURCE_OBJECTS_SCHEMA
from pg_auto_dw_spark.classify.pending import (
    source_table_prompts,
    tables_requiring_transformation,
)
from pg_auto_dw_spark.model.status import (
    TRANSFORMER_RESPONSES_SCHEMA,
    status_rows,
    threshold_decimal,
)
from pg_auto_dw_spark.warehouse import _arrow_table
from tests.test_catalog_crawl import _wait_for_listener

BKP = "Business Key Part"
T0 = datetime.datetime(2024, 6, 1)


def _so(*columns):
    """source_objects rows: (pk, table, column) current, non-deleted."""
    return _arrow_table(
        SOURCE_OBJECTS_SCHEMA,
        [
            (pk, 1, "s", None, 100 + ord(table[0]), table, "NA", i, col, "int", None, "int",
             "NA", 0, "NA", 0, "N", T0, None, "Y", "N")
            for i, (pk, table, col) in enumerate(columns, start=1)
        ],
    )


def _tr(*responses):
    """transformer_responses rows: (pk, fk, model, category, score,
    reason[, created_at])."""
    return _arrow_table(
        TRANSFORMER_RESPONSES_SCHEMA,
        [
            (pk, fk, model, cat, "bk", None if score is None else Decimal(score), reason,
             rest[0] if rest else T0)
            for pk, fk, model, cat, score, reason, *rest in responses
        ],
    )


def _by_column(so, tr, threshold="0.8"):
    return {r["column_name"]: r for r in status_rows(so, tr, threshold)}


def test_latest_response_is_max_pk_not_newest_created_at():
    so = _so((1, "a", "x"))
    later = datetime.datetime(2024, 7, 1)
    tr = _tr((5, 1, "m", "Descriptor", "0.95", "r", T0), (4, 1, "m", BKP, "0.50", "r", later))
    row = _by_column(so, tr)["x"]
    assert row["pk_transformer_responses"] == 5
    assert row["status"] == "Ready to Deploy" and row["confidence_level"] == "95%"


def test_confidence_percent_truncates_in_decimal():
    so = _so((1, "a", "x"), (2, "a", "y"))
    tr = _tr((1, 1, "m", "Descriptor", "0.29", "r"), (2, 2, "m", "Descriptor", "0.57", "r"))
    rows = _by_column(so, tr)
    # in float, 0.29 * 100 and 0.57 * 100 truncate to 28 and 56
    assert (rows["x"]["confidence_level"], rows["y"]["confidence_level"]) == ("29%", "57%")
    assert rows["x"]["status_response"] == (
        "Status: Requires Attention: Model: m categorized this column as a Descriptor "
        "with a confidence of 29%.  Model Reasoning: r"
    )


def test_status_response_concat_propagates_null():
    so = _so((1, "a", "x"), (2, "a", "y"), (3, "a", "z"))
    tr = _tr(
        (1, 1, None, "Descriptor", "0.90", "r"),
        (2, 2, "m", "Descriptor", "0.90", None),
        (3, 3, "m", "Descriptor", None, None),
    )
    rows = _by_column(so, tr)
    assert rows["x"]["status_response"] is None and rows["y"]["status_response"] is None
    assert rows["x"]["status"] == "Ready to Deploy" and rows["x"]["confidence_level"] == "90%"
    # no score: queued, and both texts are '-'
    assert (rows["z"]["status"], rows["z"]["confidence_level"], rows["z"]["status_response"]) == (
        "Queued for Processing", "-", "-"
    )


def test_null_category_with_passing_score_requires_attention():
    so = _so((1, "a", "x"))
    row = _by_column(so, _tr((1, 1, "m", None, "0.90", "r")))["x"]
    assert row["status"] == "Requires Attention" and row["status_response"] is None


def test_composite_business_key_link_branches():
    so = _so(
        (1, "b", "k1"), (2, "b", "k2"), (3, "b", "d"),  # both parts pass: no hold
        (4, "c", "k1"), (5, "c", "k2"), (6, "c", "d"),  # one part below: hold
    )
    tr = _tr(
        (1, 1, "m", BKP, "0.90", "r"), (2, 2, "m", BKP, "0.85", "r"),
        (3, 3, "m", "Descriptor", "0.90", "r"),
        (4, 4, "m", BKP, "0.90", "r"), (5, 5, "m", BKP, "0.50", "r"),
        (6, 6, "m", "Descriptor", "0.90", "r"),
    )
    rows = status_rows(so, tr, "0.8")
    got = {
        (r["table_name"], r["column_name"]): (r["bk_hold"], r["bkp_cnt"], r["status"])
        for r in rows
    }
    link = "Ready to Deploy - Awaiting Link Implementation"
    assert got[("b", "k1")] == (0, 2, link)  # a business key part
    assert got[("b", "d")] == (0, 2, link)  # a descriptor, no hold
    assert got[("c", "k1")] == (1, 2, link)
    assert got[("c", "k2")] == (1, 2, "Requires Attention")
    assert got[("c", "d")] == (
        1, 2, "Ready to Deploy - Awaiting Business Key (BK), Awaiting Link Implementation"
    )


def test_threshold_parses_as_decimal_3_2_cast():
    assert threshold_decimal(" 0.8 ") == Decimal("0.80")
    assert threshold_decimal("0.855") == Decimal("0.86")  # half-up, as the cast rounds
    so = _so((1, "a", "x"))
    assert _by_column(so, _tr((1, 1, "m", "Descriptor", "0.86", "r")), "0.855")["x"]["status"] == (
        "Ready to Deploy"
    )
    for bad in ("high", "10", "NaN"):
        with pytest.raises(ValueError, match="decimal"):
            threshold_decimal(bad)


def test_table_with_only_null_created_at_is_pending():
    so = _so((1, "a", "x"), (2, "b", "y"))
    tr = _tr((1, 1, "m", "Descriptor", "0.90", "r", None), (2, 2, "m", "Descriptor", "0.90", "r"))
    assert tables_requiring_transformation(so, tr) == [100 + ord("a")]


# Captured from the Spark ``source_table_prompts`` (collect_list +
# array_sort + to_json) this module replaced, over the same rows.
PROMPT_LINKS = (
    '{"Column Links":[{"PK Source Objects":7,"Column Ordinal Position":1},'
    '{"PK Source Objects":8,"Column Ordinal Position":2},'
    '{"PK Source Objects":9,"Column Ordinal Position":3}]}'
)
PROMPT_DETAILS = (
    '{"Schema Name":"s","Table Name":"o\\"rder","Column Details":["Column No: 1 Named: '
    'cust\\"id of type: uuid And is a primary key.Column Comments: NA",null,'
    '"Column No: 3 Named: ctl\\u0001\\u001F\x7f\u2028/\\\\b\\n\\t of type: text '
    'Column Comments: back\\\\slash é"]}'
)
PROMPT_NO_SCHEMA = (
    '{"Table Name":"t2","Column Details":["Column No: 1 Named: a of type: int '
    'Column Comments: x"]}'
)


def test_prompt_payload_matches_spark_to_json(spark):
    names = [
        "pk_source_objects", "table_oid", "schema_name", "table_name", "column_name",
        "column_ordinal_position", "column_type_name", "column_pk_ind",
        "column_description", "current_flag", "deleted_flag", "valid_from",
    ]
    rows = [
        # listed out of ordinal order: the arrays sort by ordinal
        (9, 42, "s", 'o"rder', "ctl\x01\x1f\x7f\u2028/\\b\n\t", 3, "text", 0, "back\\slash é"),
        (7, 42, "s", 'o"rder', 'cust"id', 1, "uuid", 1, "NA"),
        (8, 42, "s", 'o"rder', "straße_ñ", 2, "varchar(10)", 0, None),  # NULL description
        (10, 43, None, "t2", "a", 1, "int", 0, "x"),  # NULL schema name
    ]
    so = pa.Table.from_pylist([dict(zip(names, r + ("Y", "N", "2024-05-01"))) for r in rows])
    tr = pa.table(
        {"pk_transformer_responses": pa.array([], pa.int64()),
         "fk_source_objects": pa.array([], pa.int64()),
         "created_at": pa.array([], pa.string())}
    )
    got = [tuple(r) for r in source_table_prompts(so, tr).collect()]
    assert got == [
        (42, PROMPT_LINKS, PROMPT_DETAILS),
        (43, '{"Column Links":[{"PK Source Objects":10,"Column Ordinal Position":1}]}',
         PROMPT_NO_SCHEMA),
    ]


# -- zero Spark jobs ---------------------------------------------------------


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _wait_for_listener(sc)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def classified(spark, warehouse_dir):
    ticks = itertools.count()
    adw = AutoDW(
        spark, warehouse_dir, clock=lambda: T0 + datetime.timedelta(seconds=next(ticks))
    )
    for i in range(4):
        adw.register_source("s", f"t{i}", spark.createDataFrame([], "t_id int, note string"))
    adw.source_include("s")
    assert adw.classify_pending() == 8
    return adw


def test_catalog_cycle_runs_no_spark_job(spark, classified):
    adw = classified
    adw.update_context("s.t1.note", {"sensitive": True})
    changed = spark.createDataFrame([], "t_id bigint, note string")

    def cycle():
        adw.register_source("s", "t1", changed)
        counts = adw.crawl()
        n = adw.classify_pending()
        return (
            counts, n, adw.source_column().collect(), adw.source_table().collect(),
            adw.health().collect(),
        )

    (counts, n, columns, tables, health), jobs = _jobs(spark.sparkContext, "cycle-no-jobs", cycle)
    assert jobs == []
    assert counts == {"deleted": 0, "closed": 1, "resurrected": 0, "inserted": 1}
    assert n == 2 and len(columns) == 8 and len(tables) == 4
    status = {(r["table"], r["column"]): r["status"] for r in columns}
    assert "Queued for Processing" not in status.values()
    assert [tuple(r) for r in health][:2] == [
        ("catalog_crawl", "OK", "8 column(s) tracked"),
        ("transformer", "OK", "0 table(s) awaiting classification"),
    ]
    # the update_context override reached the new response for t1.note
    tr = adw.wh.read_arrow("auto_dw.transformer_responses").to_pylist()
    note = max((r for r in tr if r["reason"].startswith("Context override")),
               key=lambda r: r["pk_transformer_responses"])
    assert note["category"] == "Descriptor - Sensitive"


def test_classify_pending_builds_no_frame(spark, classified, monkeypatch):
    """The prompts go from the driver pass straight to the classifier:
    classify_pending hands nothing to the JVM."""
    classified.register_source("s", "t2", spark.createDataFrame([], "t_id bigint, note string"))
    classified.crawl()

    def no_frame(*_, **__):
        raise AssertionError("classify_pending made a DataFrame")

    monkeypatch.setattr(type(spark), "createDataFrame", no_frame)
    assert classified.classify_pending() == 2


def test_go_plan_runs_no_spark_job(spark, classified):
    (rows, business_keys), jobs = _jobs(
        spark.sparkContext, "plan-no-jobs", lambda: classified._plan("b1")
    )
    assert jobs == []
    assert [r[0] for r in rows] == sorted(r[0] for r in rows) and len(rows) == 8
    assert sorted(bk.name for bk in business_keys) == ["t0", "t1", "t2", "t3"]


def test_metadata_plane_stays_off_spark():
    """Policy guard: the status ladder and the pending prompts are driver
    passes over Arrow tables; a window, an aggregate or a join here puts
    the catalog cycle back on Spark's exchanges."""
    pkg = os.path.join(os.path.dirname(__file__), "..", "pg_auto_dw_spark")
    for rel in ("model/status.py", "classify/pending.py"):
        with open(os.path.join(pkg, rel)) as f:
            code = "\n".join(ln.split("#")[0] for ln in f.read().splitlines())
        found = re.findall(r"\bWindow\b|\.groupBy\(|\.join\(", code)
        assert not found, f"{rel} uses {found[0]}: compute the metadata plane on the driver"
