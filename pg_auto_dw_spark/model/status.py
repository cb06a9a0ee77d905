"""Status engine: latest-response resolution + per-table flags + CASE
ladder (SURVEY.md W1/W2/A2/F4; reference: extension/src/model/
queries.rs:441-532, identical prep inside insert_into_build_call at
:324-415).

Altitude: one pass on the driver, as the SCD2 merge (catalog/scd2.py).
``auto_dw.source_objects`` holds one row per source-column version --
about 10^4-10^6 rows even for a large warehouse -- and
``auto_dw.transformer_responses`` one row per classification, so both
are read with pyarrow (``Warehouse.read_arrow``) and the views go back
to Spark as local relations, which collect without a Spark job.
``source_column_df``, ``source_table_df`` and the go() ready set
(``build.builder.ready_build_call_rows``) all read ``status_rows``.

Exact-parity notes:

- the latest response per column is the one with MAX(pk) (A2), as the
  reference's MAX(pk) + self-join, not the newest ``created_at``;
- ``(confidence_score * 100)::INT::TEXT`` is computed in ``Decimal``
  and truncated: in float, 0.29 * 100 is 28.999...;
- status_response uses null-propagating concat (Postgres ``||``): a
  NULL model_name, category or reason gives NULL, not '-';
- comparisons follow SQL three-valued logic: a test with a NULL operand
  is not true, so a NULL category with a passing score is 'Requires
  Attention';
- the threshold is parsed as ``cast(text AS decimal(3,2))`` parses it:
  trimmed, rounded half-up to two places, an error where it does not
  fit.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal, InvalidOperation

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..catalog.scd2 import tracked
from ..warehouse import local_frame

TRANSFORMER_RESPONSES_SCHEMA = T.StructType(
    [
        T.StructField("pk_transformer_responses", T.LongType(), False),
        T.StructField("fk_source_objects", T.LongType(), True),
        T.StructField("model_name", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("business_key_name", T.StringType(), True),
        T.StructField("confidence_score", T.DecimalType(3, 2), True),
        T.StructField("reason", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

BUILD_CALL_SCHEMA = T.StructType(
    [
        T.StructField("pk_build_call", T.LongType(), False),
        T.StructField("fk_transformer_responses", T.LongType(), True),
        T.StructField("build_id", T.StringType(), True),
        T.StructField("build_flag", T.StringType(), True),
        T.StructField("build_status", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)

_COLUMN_VIEW = ("schema", "table", "column", "status", "confidence_level", "status_response")
SOURCE_COLUMN_SCHEMA = T.StructType([T.StructField(n, T.StringType()) for n in _COLUMN_VIEW])
SOURCE_TABLE_SCHEMA = T.StructType(
    [T.StructField(n, T.StringType()) for n in ("schema", "table", "status")]
    + [T.StructField("n_columns", T.LongType())]
)

BKP = "Business Key Part"
RTD = "Ready to Deploy"
QUEUED = "Queued for Processing"
ATTENTION = "Requires Attention"
AWAIT_BK = "Awaiting Business Key (BK)"
AWAIT_LINK = "Awaiting Link Implementation"
# source_table's rollup: the least advanced column status names the table
TABLE_STATUS = (ATTENTION, QUEUED, RTD + " - Awaiting", RTD)


def threshold_decimal(text: str) -> Decimal:
    """The confidence threshold as ``cast(text AS decimal(3,2))`` gives
    it; raises ``ValueError`` where the (ANSI) cast raises."""
    try:
        d = Decimal(str(text).strip()).quantize(Decimal("0.01"), ROUND_HALF_UP)
    except InvalidOperation:
        d = Decimal("NaN")
    if not d.is_finite() or abs(d) >= 10:
        raise ValueError(f"confidence threshold {text!r} is not a decimal(3,2)")
    return d


def latest_responses(responses) -> dict:
    """fk_source_objects -> its latest transformer response (a dict): the
    one with MAX(pk) (reference: queries.rs:332-340)."""
    latest: dict = {}
    for r in responses.to_pylist():
        cur = latest.get(r["fk_source_objects"])
        if cur is None or r["pk_transformer_responses"] > cur["pk_transformer_responses"]:
            latest[r["fk_source_objects"]] = r
    return latest


def nulls_first(*names):
    """Sort key over dict rows: ascending by ``names``, NULLs first (as
    Spark's ``orderBy`` and ``array_sort``)."""
    return lambda r: tuple((r[n] is not None, r[n]) for n in names)


def _status(category, ready: bool, bk_hold: int, bkp_cnt: int) -> str:
    """The ladder (queries.rs:366-382) for a scored column."""
    if not ready or category is None:
        return ATTENTION
    hold = category != BKP and bk_hold == 1
    if bkp_cnt > 1:  # composite key: links
        return f"{RTD} - {AWAIT_BK}, {AWAIT_LINK}" if hold else f"{RTD} - {AWAIT_LINK}"
    return f"{RTD} - {AWAIT_BK}" if hold else RTD


def status_rows(source_objects, responses, threshold: str) -> list[dict]:
    """source_object_status_prep + the status ladder (queries.rs:341-438)
    over the Arrow tables: one dict per current, non-deleted column, with
    its catalog columns, its latest response's columns, ``bk_hold`` and
    ``bkp_cnt`` (per schema + table), ``status``, ``confidence_level``
    and ``status_response``. ``threshold`` is the setting's text."""
    thr = threshold_decimal(threshold)
    latest = latest_responses(responses)
    blank = dict.fromkeys(responses.column_names)
    rows = [
        {**latest.get(s["pk_source_objects"], blank), **s}
        for s in tracked(source_objects.to_pylist())
    ]
    flags: dict[tuple, tuple[int, int]] = {}
    for r in rows:
        key, bkp = (r["schema_name"], r["table_name"]), r["category"] == BKP
        low = bkp and r["confidence_score"] is not None and r["confidence_score"] < thr
        hold, cnt = flags.get(key, (0, 0))
        flags[key] = (max(hold, int(low)), cnt + bkp)
    for r in rows:
        r["bk_hold"], r["bkp_cnt"] = flags[r["schema_name"], r["table_name"]]
        score, cat = r["confidence_score"], r["category"]
        if score is None:
            r.update(status=QUEUED, confidence_level="-", status_response="-")
            continue
        ready = score >= thr
        pct = f"{int(score * 100)}%"
        r["status"] = _status(cat, ready, r["bk_hold"], r["bkp_cnt"])
        r["confidence_level"] = pct
        model, reason = r["model_name"], r["reason"]
        r["status_response"] = (
            None
            if model is None or cat is None or reason is None
            else f"Status: {RTD if ready else ATTENTION}: Model: {model} categorized this column "
            f"as a {cat} with a confidence of {pct}.  Model Reasoning: {reason}"
        )
    return rows


def source_column_df(source_objects, responses, threshold: str) -> DataFrame:
    """auto_dw.source_column() output (reference: src/lib.rs:113-151,
    queries.rs:441-532): 6 columns ordered by schema, table, ordinal."""
    rows = sorted(
        status_rows(source_objects, responses, threshold),
        key=nulls_first("schema_name", "table_name", "column_ordinal_position"),
    )
    return local_frame(
        SOURCE_COLUMN_SCHEMA,
        [
            (r["schema_name"], r["table_name"], r["column_name"], r["status"],
             r["confidence_level"], r["status_response"])
            for r in rows
        ],
    )


def source_table_df(source_objects, responses, threshold: str) -> DataFrame:
    """Table-grain rollup. The reference's source_table() is a hardcoded
    demo VALUES set (queries.rs:1-7, SURVEY U3); we return the real
    aggregation its docs describe: one row per table with the least-
    advanced column status, ordered by schema, table."""
    tables: dict[tuple, tuple[int, int]] = {}
    for r in status_rows(source_objects, responses, threshold):
        s, key = r["status"], (r["schema_name"], r["table_name"])
        rank = 2 if s.startswith(RTD + " - ") else TABLE_STATUS.index(s)
        low, n = tables.get(key, (3, 0))
        tables[key] = (min(low, rank), n + 1)
    rows = [(*key, TABLE_STATUS[tables[key][0]], tables[key][1]) for key in tables]
    return local_frame(SOURCE_TABLE_SCHEMA, sorted(rows, key=nulls_first(0, 1)))
