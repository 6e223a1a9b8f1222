"""Unit tests for the late-round-2 operator helpers: z-order bit
interleave, Arrow-native scoring parity, chunking edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F


def _py_interleave(a: int, b: int, bits: int = 20) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_zorder_value_matches_python_interleave(spark):
    from dataintegration_csvprovider_spark.queries.layout import _zorder_value

    rows = [(0, 0), (1, 0), (0, 1), (5, 9), (1023, 511), (2**20 - 1, 2**20 - 1)]
    df = spark.createDataFrame(rows, "a bigint, b bigint")
    got = df.select(
        "a", "b", _zorder_value(F.col("a"), F.col("b")).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == _py_interleave(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_locality():
    # the point of z-order: nearby (a,b) cells interleave to nearby z
    # ranges — a box of small b values maps into the low fraction of
    # each a-region, never smeared across the whole z range
    lo_b = sorted(_py_interleave(a, b) for a in range(4) for b in range(4))
    hi_b = sorted(_py_interleave(a, b) for a in range(4) for b in range(12, 16))
    assert max(lo_b) < max(hi_b)


def test_arrow_score_matches_sql_fold(spark):
    from dataintegration_csvprovider_spark.operators.similarity import (
        arrow_score,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, -3.0]), (2, [0.5, -0.25, 4.0]), (3, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    w = [0.5, -1.25, 2.0]
    got = {
        r["vec_id"]: (r["margin"], r["positive"])
        for r in arrow_score(df, w).collect()
    }
    # sequential fold in plain python over float64 = the contract
    import struct

    def f32(x):  # the embedding column stores float32
        return struct.unpack("f", struct.pack("f", x))[0]

    for vid, vec in [(1, [1.0, 2.0, -3.0]), (2, [0.5, -0.25, 4.0]), (3, [0.0, 0.0, 0.0])]:
        acc = 0.0
        for wi, xi in zip(w, vec):
            acc = acc + wi * f32(xi)
        assert got[vid] == (acc, acc > 0.0)


def test_doc_chunking_short_and_exact_docs(spark):
    # windows: 200 chars, stride 150; a doc shorter than one window gets
    # exactly one chunk; a doc of exactly window+stride length gets two
    from dataintegration_csvprovider_spark.queries import all_queries

    fn = all_queries()["q_doc_chunking"].fn
    import tempfile

    d = tempfile.mkdtemp(prefix="chunk_docs_")
    spark.createDataFrame(
        [
            (1, "x" * 30, "en", "s", 30),
            (2, "y" * 350, "en", "s", 350),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["char_start"], r["chunk_len"])
        for r in fn(spark, d).collect()
    )
    assert got == [(1, 0, 0, 30), (2, 0, 0, 200), (2, 1, 150, 200)]

