"""r16 expression-binding parity: the hashed-embedding tail binds the
L2 norm to a column before the normalizing transform, and
with_quantized computes qnorm from the BOUND qvec column -- both pure
evaluation-count optimizations (a lambda body re-evaluates every
expression subtree it references once per array element). These tests
replay the OLD unbound expression shapes over the same inputs and pin
the outputs bit-for-bit equal, so any drift in operation order (and
therefore IEEE result bits) fails loudly."""

import os
import struct

from pyspark.sql import functions as F

from pg_auto_dw_spark.functions.corpus import word_tokens
from pg_auto_dw_spark.functions.selection import hashed_embedding
from pg_auto_dw_spark.functions.similarity import int_dot, quantized, with_quantized
from pg_auto_dw_spark.sources import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
DIMS = 64


def _old_shape_embedding(docs, dims, idf_by_dim, id_col="doc_id"):
    """The pre-r16 _embedding_from_toks pipeline verbatim: norm inlined
    into the normalizing lambda (re-evaluated per element), exactly the
    expression tree the optimization replaced."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(par, id_col).select(
        F.col(id_col), F.explode(word_tokens(F.col("text"))).alias("__w")
    )
    h = F.conv(F.substring(F.md5("__w"), 1, 8), 16, 10).cast("bigint")
    sign = (F.shiftright(h, 15) % 2 * 2 - 1).cast("double")
    toks = base.select(id_col, (h % dims).alias("dim"), sign.alias("s"))
    mat = toks.groupBy(id_col, "dim").agg(
        F.sum("s").alias("tf_signed"), F.count(F.lit(1)).alias("tf")
    )
    idf_expr = F.element_at(
        F.create_map(
            *[
                x
                for d, v in sorted(idf_by_dim.items())
                for x in (F.lit(int(d)), F.lit(float(v)))
            ]
        ),
        F.col("dim").cast("int"),
    )
    mat = mat.withColumn("w", F.col("tf_signed") * idf_expr)
    dense = (
        mat.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("dim").cast("int"), F.col("w")))
            ).alias("__m"),
            F.sum("tf").alias("n_tokens"),
        )
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dims - 1)),
                lambda i: F.coalesce(F.element_at("__m", i.cast("int")), F.lit(0.0)),
            ).alias("__v"),
            "n_tokens",
        )
    )
    norm = F.sqrt(F.aggregate("__v", F.lit(0.0), lambda acc, x: acc + x * x))
    return dense.select(
        id_col,
        F.when(norm > 0, F.transform("__v", lambda x: x / norm))
        .otherwise(F.col("__v"))
        .alias("embedding"),
        "n_tokens",
    )


def _bits(rows):
    """Collapse collected rows to a comparable structure where doubles
    compare by their IEEE-754 bytes (``==`` on floats would let -0.0
    pass for 0.0)."""
    return sorted(
        (r[0], tuple(struct.pack("d", x) for x in r[1]), r[2]) for r in rows
    )


def test_embedding_norm_binding_bit_identical(spark):
    docs = load_table(spark, SF_DIR, "documents")
    new = hashed_embedding(docs, DIMS)
    # rebuild the identical IDF model the new path fitted, then replay
    # the old unbound tail over the same corpus
    from pg_auto_dw_spark.functions.selection import hashed_idf_model

    model = hashed_idf_model(docs, DIMS)
    old = _old_shape_embedding(docs, DIMS, model)
    a = _bits(new.select("doc_id", "embedding", "n_tokens").collect())
    b = _bits(old.select("doc_id", "embedding", "n_tokens").collect())
    assert a == b


def test_with_quantized_bound_qvec_bit_identical(spark):
    docs = load_table(spark, SF_DIR, "documents")
    emb = hashed_embedding(docs, DIMS).localCheckpoint(eager=False)
    new = with_quantized(emb, "embedding").select("doc_id", "qvec", "qnorm")
    q = quantized(F.col("embedding"))
    old = (
        emb.withColumn("qvec", q)
        .withColumn("qnorm", int_dot(q, q))
        .select("doc_id", "qvec", "qnorm")
    )
    a = sorted((r[0], tuple(r[1]), r[2]) for r in new.collect())
    b = sorted((r[0], tuple(r[1]), r[2]) for r in old.collect())
    assert a == b
