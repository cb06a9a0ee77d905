"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same source tables, the same delta plan, the same catalog churn and the
same corpus. The program under test only ever receives the generated
inputs (parquet files and DataFrames); the expected outcome of every
operation is tracked here, beside the inputs, so each operation can be
checked without asking the program.

Row renderings used for fingerprints follow ``functions.hashing
.pg_text_expr``: integers as decimal text, doubles through two fixed
decimals, timestamps as ``yyyy-MM-dd HH:mm:ss.SSSSSS`` in UTC.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor (TPC-H proportions; 4 lines per order)
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000}
LINES_PER_ORDER = 4
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_2020 = 1_577_836_800  # 2020-01-01T00:00:00Z
DAY = 86_400
PART_WORDS = np.array(["almond", "blush", "coral", "frosted", "lace", "navy", "olive", "tan"])

# PK / FK facts of the seven sources (same layout as the TPC-H-ish test data)
KEYS = {
    "region": (("r_regionkey",), ()),
    "nation": (("n_nationkey",), ("n_regionkey",)),
    "customer": (("c_custkey",), ("c_nationkey",)),
    "supplier": (("s_suppkey",), ("s_nationkey",)),
    "part": (("p_partkey",), ()),
    "orders": (("o_orderkey",), ("o_custkey",)),
    "lineitem": (("l_orderkey", "l_linenumber"), ("l_orderkey", "l_partkey", "l_suppkey")),
}


def _ts(seconds) -> pa.Array:
    return pa.array(np.asarray(seconds, dtype="int64") * 1_000_000, pa.timestamp("us", tz="UTC"))


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Money-like doubles with exactly two decimals (hash-render safe)."""
    return rng.integers(lo, hi, n) / 100.0


def render(value) -> str:
    """``pg_text_expr`` rendering of one Python value of a source row."""
    if isinstance(value, float):
        return f"{value:.2f}"
    if isinstance(value, datetime.datetime):
        return value.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(value)


# ---------------------------------------------------------------------------
# dv_incremental: seven TPC-H-ish sources and push batches
# ---------------------------------------------------------------------------


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(ROWS_PER_SF["customer"] * sf))
    n_supp = max(5, int(ROWS_PER_SF["supplier"] * sf))
    n_part = max(10, int(ROWS_PER_SF["part"] * sf))
    n_ord = max(20, int(ROWS_PER_SF["orders"] * sf))
    order_keys = np.arange(1, n_ord + 1)
    n_line = n_ord * LINES_PER_ORDER
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i:02d}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(customer_columns(rng, np.arange(1, n_cust + 1), 0, {})),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
                "p_name": [" ".join(w) for w in PART_WORDS[rng.integers(0, 8, (n_part, 3))]],
                "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
                "p_type": [f"TYPE_{b}" for b in rng.integers(0, 150, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": _cents(rng, 90_000, 200_000, n_part),
            }
        ),
        "orders": pa.table(order_columns(rng, order_keys, 0, {"customer": n_cust})),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(np.repeat(order_keys, LINES_PER_ORDER), pa.int64()),
                "l_partkey": pa.array(rng.integers(1, n_part + 1, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_line), pa.int64()),
                "l_linenumber": pa.array(
                    np.tile(np.arange(1, LINES_PER_ORDER + 1), n_ord), pa.int32()
                ),
                "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
                "l_extendedprice": _cents(rng, 90_000, 10_000_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": ["ANR"[i] for i in rng.integers(0, 3, n_line)],
                "l_linestatus": ["FO"[i] for i in rng.integers(0, 2, n_line)],
                "l_shipdate": _ts(EPOCH_2020 + rng.integers(0, 2100, n_line) * DAY),
            }
        ),
    }


# Row builders of the pushed tables: ``version`` > 0 marks the values of
# a change made by push number ``version``, so a changed descriptor never
# returns to an earlier value (the hash-diff anti-join would rightly drop
# such a revert). ``sizes`` bounds foreign keys.


def customer_columns(rng, keys: np.ndarray, version: int, sizes: dict) -> dict:
    n = len(keys)
    tag = f"-v{version}" if version else ""
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}{tag}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 999_999, n),
        "c_mktsegment": [SEGMENTS[i] + tag for i in rng.integers(0, 5, n)],
    }


def order_columns(rng, keys: np.ndarray, version: int, sizes: dict) -> dict:
    n = len(keys)
    tag = f"-v{version}" if version else ""
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, sizes["customer"] + 1, n), pa.int64()),
        "o_orderstatus": ["FOP"[i] + tag for i in rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n),
        "o_orderdate": _ts(EPOCH_2020 + rng.integers(0, 2000, n) * DAY),
        "o_orderpriority": [PRIORITIES[i] + tag for i in rng.integers(0, 5, n)],
    }


ROW_BUILDERS = {
    "customer": (customer_columns, ("c_name", "c_acctbal", "c_mktsegment")),
    "orders": (order_columns, ("o_orderstatus", "o_totalprice", "o_orderpriority")),
}


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _row_strings(table: pa.Table, key_cols: tuple[str, ...]) -> dict:
    """key tuple -> {column: rendered value}, one entry per row."""
    cols = {c: table.column(c).to_pylist() for c in table.column_names}
    out = {}
    for i in range(table.num_rows):
        row = {}
        for c in table.column_names:
            v = cols[c][i]
            row[c] = v.replace(tzinfo=None) if isinstance(v, datetime.datetime) else v
        out[tuple(row[k] for k in key_cols)] = {c: render(v) for c, v in row.items()}
    return out


@dataclass
class VaultExpectation:
    """Expected business view of one pushed table, kept incrementally.

    The fingerprint is (row count, sum of crc32 over one canonical text
    line per row). The line holds the hub hash key, then the business-key
    text parts and every descriptor in sorted column order -- the same
    line ``workloads.DvIncremental`` builds from the vault."""

    key_cols: tuple[str, ...]
    rows: dict = field(default_factory=dict)
    crc: dict = field(default_factory=dict)
    total: int = 0

    def line(self, rendered: dict) -> str:
        bk = ",".join(rendered[k] for k in self.key_cols)
        hk = hashlib.sha256(bk.encode()).hexdigest()
        return "|".join([hk] + [rendered[c] for c in sorted(rendered)])

    def upsert(self, key, rendered: dict) -> None:
        new = zlib.crc32(self.line(rendered).encode())
        self.total += new - self.crc.get(key, 0)
        self.crc[key] = new
        self.rows[key] = rendered

    def fingerprint(self) -> tuple[int, int]:
        return len(self.crc), self.total


def expectations(tables: dict[str, pa.Table], names) -> dict[str, VaultExpectation]:
    out = {}
    for name in names:
        exp = VaultExpectation(KEYS[name][0])
        for key, rendered in _row_strings(tables[name], KEYS[name][0]).items():
            exp.upsert(key, rendered)
        out[name] = exp
    return out


@dataclass
class Delta:
    table: str
    data: pa.Table
    new_keys: int
    changed: dict  # key -> set of columns whose value changed


def make_delta(
    rng, version: int, table: str, exp: dict[str, VaultExpectation], sizes: dict, rows: int
) -> Delta:
    """Push number ``version``: ``rows`` rows for ``table``, half new keys, 30%
    existing keys with a seeded non-empty subset of their mutable
    descriptors changed, 20% existing rows replayed unchanged. Updates
    ``exp`` and ``sizes`` to the state after the push."""
    build, mutable = ROW_BUILDERS[table]
    e = exp[table]
    n_new = max(1, rows // 2)
    n_chg = max(1, (rows * 3) // 10)
    n_rep = max(1, rows - n_new - n_chg)
    existing = list(e.rows)
    pick = rng.choice(len(existing), size=min(len(existing), n_chg + n_rep), replace=False)
    chg_keys = [existing[i] for i in pick[:n_chg]]
    rep_keys = [existing[i] for i in pick[n_chg:]]
    new_keys = np.arange(sizes[table] + 1, sizes[table] + n_new + 1)
    sizes[table] += n_new
    fresh = pa.table(build(rng, new_keys, 0, sizes))
    schema = fresh.schema
    drawn = pa.table(build(rng, np.array([k[0] for k in chg_keys]), version, sizes))
    current = _current_table(e, chg_keys, schema)
    keep_new = rng.random((len(chg_keys), len(mutable))) < 0.6
    keep_new[np.arange(len(chg_keys)), rng.integers(0, len(mutable), len(chg_keys))] = True
    cols = {}
    for c in schema.names:
        if c in mutable:
            j = mutable.index(c)
            pairs = zip(drawn.column(c).to_pylist(), current.column(c).to_pylist())
            vals = [nv if keep_new[i, j] else ov for i, (nv, ov) in enumerate(pairs)]
            cols[c] = pa.array(vals, schema.field(c).type)
        else:
            cols[c] = current.column(c)
    data = pa.concat_tables(
        [fresh, pa.table(cols, schema=schema), _current_table(e, rep_keys, schema)]
    )
    # a drawn value can equal the current one, so what changed is read
    # off the rendered rows rather than off the draw
    changed = {}
    for key, rendered in _row_strings(data, e.key_cols).items():
        old = e.rows.get(key)
        if old is not None:
            diff = {c for c in rendered if rendered[c] != old[c]}
            if diff:
                changed[key] = diff
        e.upsert(key, rendered)
    return Delta(table, data, n_new, changed)


def _current_table(e: VaultExpectation, keys: list, schema: pa.Schema) -> pa.Table:
    """Rebuild typed rows for ``keys`` from their rendered current values."""
    cols = {}
    for f in schema:
        vals = [e.rows[k][f.name] for k in keys]
        if pa.types.is_timestamp(f.type):
            epoch = datetime.datetime(1970, 1, 1)
            secs = [
                int((datetime.datetime.strptime(v, "%Y-%m-%d %H:%M:%S.%f") - epoch).total_seconds())
                for v in vals
            ]
            cols[f.name] = _ts(secs)
        elif pa.types.is_floating(f.type):
            cols[f.name] = pa.array([float(v) for v in vals], f.type)
        elif pa.types.is_integer(f.type):
            cols[f.name] = pa.array([int(v) for v in vals], f.type)
        else:
            cols[f.name] = pa.array(vals, f.type)
    return pa.table(cols, schema=schema)


def expected_push_counts(delta: Delta, satellites: dict[str, list[str]]) -> tuple[int, dict]:
    """(hub rows, {satellite key: rows}) a push of ``delta`` must append:
    every new key lands in the hub and every satellite; a changed key
    lands only in the satellites holding one of its changed columns."""
    sats = {}
    for key, cols in satellites.items():
        hit = sum(1 for changed in delta.changed.values() if changed & set(cols))
        sats[key] = delta.new_keys + hit
    return delta.new_keys, sats


# ---------------------------------------------------------------------------
# catalog_churn: schema-only tables and a churn plan
# ---------------------------------------------------------------------------

COLUMN_TYPES = ["int", "bigint", "string", "double", "date", "timestamp", "decimal(10,2)", "boolean"]
# type-change targets: each type flips to a same-family neighbour
TYPE_FLIP = {
    "int": "bigint",
    "bigint": "int",
    "string": "binary",
    "binary": "string",
    "double": "decimal(12,2)",
    "decimal(12,2)": "double",
    "date": "timestamp",
    "timestamp": "date",
    "decimal(10,2)": "decimal(14,4)",
    "decimal(14,4)": "decimal(10,2)",
    "boolean": "tinyint",
    "tinyint": "boolean",
}


@dataclass
class CatalogTable:
    name: str
    columns: list  # [(name, type)]
    dropped: tuple | None = None  # the last column while dropped

    def ddl(self) -> str:
        return ", ".join(f"`{n}` {t}" for n, t in self.columns)


def catalog_tables(seed: int, n_tables: int, n_columns: int) -> list[CatalogTable]:
    rng = np.random.default_rng([seed, 2])
    out = []
    for i in range(n_tables):
        cols = [("id", "bigint")]
        for j in range(1, n_columns):
            cols.append((f"f{j:02d}", COLUMN_TYPES[int(rng.integers(0, len(COLUMN_TYPES)))]))
        if i % 3 == 0:
            cols[1] = ("owner_email", "string")  # one PII descriptor per third table
        out.append(CatalogTable(f"t{i:04d}", cols))
    return out


@dataclass
class ChurnStep:
    """Schema changes of one worker cycle and the SCD2 counts they imply."""

    changed: list  # CatalogTable objects touched this cycle
    readded: list  # names of tables whose dropped column came back
    counts: dict
    reclassified: list  # names of tables that must be re-classified


def churn_step(rng, tables: list[CatalogTable], n_changes: int) -> ChurnStep:
    counts = {"deleted": 0, "closed": 0, "resurrected": 0, "inserted": 0}
    picked = rng.choice(len(tables), size=n_changes, replace=False)
    changed, readded, reclassified = [], [], []
    for i in sorted(int(p) for p in picked):
        t = tables[i]
        if t.dropped is not None:
            t.columns.append(t.dropped)
            t.dropped = None
            counts["resurrected"] += 1
            readded.append(t.name)
        elif rng.random() < 0.6:
            j = int(rng.integers(1, len(t.columns)))
            name, typ = t.columns[j]
            t.columns[j] = (name, TYPE_FLIP[typ])
            counts["closed"] += 1
            counts["inserted"] += 1
            reclassified.append(t.name)
        else:
            t.dropped = t.columns.pop()
            counts["deleted"] += 1
        changed.append(t)
    return ChurnStep(changed, readded, counts, reclassified)


# ---------------------------------------------------------------------------
# corpus_dedup: a near-duplicate document corpus
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "with", "for", "as"]


@dataclass
class Corpus:
    table: pa.Table
    base: dict  # doc_id -> index of the document it is a copy of
    edits: dict  # doc_id -> number of words that differ from that document


def corpus(seed: int, base_docs: int, replicas: int) -> Corpus:
    """``base_docs`` seeded documents, each copied ``replicas`` times.
    Copy 0 is the original; every other copy gets 0-3 word edits, so
    the corpus holds exact duplicates (0 edits) and near duplicates."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i:04d}" for i in range(4000)] + STOPWORDS * 40)
    ids, texts, sources, base, edits = [], [], [], {}, {}
    doc_id = 0
    for b in range(base_docs):
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(40, 120)))].tolist()
        for r in range(replicas):
            w = list(words)
            if r:
                for _ in range(int(rng.integers(0, 4))):
                    w[int(rng.integers(0, len(w)))] = f"e{int(rng.integers(0, 10**6))}"
            doc_id += 1
            ids.append(doc_id)
            texts.append(" ".join(w))
            sources.append(f"src{b % 7}")
            base[doc_id] = b
            edits[doc_id] = sum(1 for x, y in zip(w, words) if x != y)
    order = rng.permutation(len(ids))
    ids = np.array(ids)[order]
    texts = [texts[i] for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": [sources[i] for i in order],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return Corpus(table, base, edits)
