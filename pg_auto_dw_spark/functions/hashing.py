"""Hash-key / hash-diff primitives (SURVEY.md F1/F2): the one place
business-key text is rendered, joined and hashed.

The reference defines one scalar UDF ``auto_dw.hash(text)`` = lowercase
hex SHA-256 (reference: extension/src/lib.rs:153-157) and concatenates
business-key parts with ``ARRAY_TO_STRING(ARRAY[a::TEXT, ...], ',')``
(reference: extension/src/controller/dv_loader.rs:170-172,331-336),
which skips NULLs.

Spark-first mapping -- NO Python UDF anywhere on this path:

- ``sha2(col, 256)`` is a JVM built-in producing the identical
  lowercase hex digest; it stays inside whole-stage codegen.
- ``concat_ws(',', ...)`` skips NULLs exactly like ARRAY_TO_STRING.

The only subtlety is *rendering*: Postgres ``value::TEXT`` output must
be reproduced byte-for-byte or hashes diverge. ``pg_text_expr`` maps
each Spark type to a rendering that matches both Postgres and the
DuckDB oracle (doubles go through DECIMAL so we never hit Spark's
scientific notation, e.g. 1.0E7).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spark simple-type-name -> how to render as PG-style ::TEXT.
_DECIMAL_RENDER = "decimal(38,2)"


def pg_text_expr(col: Column, spark_type: str) -> Column:
    """Render a column as text the way ``value::TEXT`` would in Postgres.

    For string/integer types a plain cast matches. Doubles are routed
    through a fixed-scale decimal: Spark's double->string cast emits
    scientific notation for abs(x) >= 1e7 while Postgres/DuckDB do not,
    so a direct cast would silently break hash parity.

    Double contract: engine-identical for values with <= 2 fractional
    decimal digits (the money-like columns hash-diffs render). Exact
    .xx5 ties at the 3rd decimal round differently across engines
    (Spark HALF_UP vs DuckDB's inconsistent tie behavior) -- property-
    tested boundary, see tests/test_properties.py. For full-precision
    doubles, hash the raw bit pattern instead of a decimal rendering.
    """
    t = spark_type.lower()
    if t in ("double", "float"):
        return col.cast(_DECIMAL_RENDER).cast("string")
    if t.startswith("decimal"):
        return col.cast("string")
    if t in ("timestamp", "timestamp_ntz"):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    return col.cast("string")


def render(cols: list[str], types: dict[str, str]) -> list[Column]:
    """Each named column as ``value::TEXT`` (``pg_text_expr``); a column
    ``types`` does not name renders as a string."""
    return [pg_text_expr(F.col(c), types.get(c, "string")) for c in cols]


def key_text(cols: list[str], types: dict[str, str]) -> Column:
    """The text the reference hashes: the rendered parts comma-joined
    with NULLs skipped, ``ARRAY_TO_STRING(ARRAY[a::TEXT, ...], ',')``
    (dv_loader.rs:170-172 for a business key, :331-336 for a hash-diff)."""
    return F.concat_ws(",", *render(cols, types))


def sha256_hex(text: Column) -> Column:
    """``auto_dw.hash(text)`` (src/lib.rs:153-157): lowercase hex SHA-256."""
    return F.sha2(text, 256)


def hash_text(text: str) -> str:
    """``auto_dw.hash(text)`` on the driver: the digest ``sha256_hex``
    computes in the JVM, for a text the driver already holds."""
    return hashlib.sha256(text.encode()).hexdigest()


def hash_key(cols: list[str], types: dict[str, str]) -> Column:
    """Business-key hash or hash-diff: ``sha256_hex(key_text(...))`` --
    the reference uses one hash function for both roles."""
    return sha256_hex(key_text(cols, types))
