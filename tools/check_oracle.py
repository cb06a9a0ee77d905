"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value hash. Usage:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

from dtype_audit import classify, norm_duck, norm_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round-trip repr; collapse -0.0 and integral floats
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def frame_fingerprint(rows: list[tuple], cols: list[str]) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(rows), sorted(cols), h


def open_oracle(sf: str):
    """DuckDB connection with one view per test table under ``sf``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    return con


def first_diff(srows, scols, orows, ocols) -> list[str]:
    """The first differing canonical line of two same-shaped results."""
    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
    order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
    ls = sorted("\x01".join(canon_cell(r[i]) for i in order_s) for r in srows)
    lo = sorted("\x01".join(canon_cell(r[i]) for i in order_o) for r in orows)
    for a, b in zip(ls, lo):
        if a != b:
            return [f"      spark:  {a[:300]}", f"      duckdb: {b[:300]}"]
    return []


def check_query(spark, con, sf: str, name: str, fn, sql: str | None) -> tuple[str, list[str]]:
    """Run query ``name`` on Spark and its oracle ``sql`` on DuckDB.
    Returns the status ("OK", "FAIL", or "ROWS" when there is no
    oracle) and the report lines to print."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return "FAIL", [f"FAIL  {name}: spark error: {e}"]
    t_spark = time.time() - t0
    if sql is None:
        return "ROWS", [f"ROWS  {name}: {len(srows)} rows (no oracle) [{t_spark:.1f}s]"]
    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:
        return "FAIL", [f"FAIL  {name}: duckdb error: {e}"]
    sn, sc, sh = frame_fingerprint(srows, scols)
    on, oc, oh = frame_fingerprint(orows, ocols)
    lines = []
    # Type-class gate (r8 VERDICT directive 2): the local str()-level
    # canonicalization is blind to integer width, but the driver's
    # typed/Arrow-buffer hash is not (int128 != int64 even when every
    # value is equal — text_word_entropy, 3 rounds red). Compare the
    # engines' declared output types and fail on hard-error diffs.
    dtype_errs = []
    try:
        sdt = {k: norm_spark(v) for k, v in sdf.dtypes}
        ddt = {r[0]: norm_duck(r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()}
        for c in sorted(set(sdt) | set(ddt)):
            if classify(sdt.get(c), ddt.get(c)) == "error":
                dtype_errs.append(f"{c}: spark={sdt.get(c)} duckdb={ddt.get(c)}")
    except Exception as e:  # DESCRIBE can fail on exotic SQL; don't mask values
        lines.append(f"      (dtype check skipped: {e})")
    lines += [f"DTYPE {name}.{d}" for d in dtype_errs]
    if (sn, sc, sh) == (on, oc, oh) and not dtype_errs:
        return "OK", lines + [f"OK    {name}: {sn} rows [{t_spark:.1f}s]"]
    lines.append(f"FAIL  {name}: rows {sn}/{on} cols {sc}/{oc} hash {'=' if sh == oh else '!='}")
    if sn == on and sc == oc:
        lines += first_diff(srows, scols, orows, ocols)
    return "FAIL", lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from pg_auto_dw_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = open_oracle(args.sf)
    qmap = entrymod.queries()
    omap = entrymod.oracle_sql()
    names = args.names or list(qmap)
    failures = 0
    for name in names:
        status, lines = check_query(spark, con, args.sf, name, qmap[name], omap.get(name))
        failures += status == "FAIL"
        print("\n".join(lines))
    print(f"\n{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
