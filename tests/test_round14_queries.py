"""Round-14 optimization tests.

Focused tests for operator internals changed this round (the
optimization brief requires one per changed internal):
- dsum/davg guard-free 4-way digit split (registry.py)
"""

from __future__ import annotations

import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F


def _exact_micros_sum(vals) -> float:
    """Reference: quantize each value to 6 dp (DECIMAL(18,6)), sum the
    exact integer micro-units, ONE int->double conversion + ONE IEEE
    division — the cross-engine contract dsum implements."""
    total = sum(
        int((Decimal(repr(v)).quantize(Decimal("0.000001"))) * 1_000_000)
        for v in vals
    )
    return float(total) / 1_000_000.0


def test_dsum_4way_digit_split_exact_on_negative_mix(spark):
    """The r14 guard-free 4-way split must stay bit-exact across sign
    changes and 16-bit digit boundaries (values straddling 2^16/2^32/
    2^48 micro-units, negatives, zeros)."""
    from dataintegration_csvprovider_spark.queries.registry import dsum

    vals = [
        0.065535,   # m = 65535 (max low digit)
        0.065536,   # m = 65536 (carry into digit 1)
        -0.065536,
        4294.967296,        # m = 2^32
        -4294.967295,
        281474976.710656,   # m = 2^48
        -281474976.710657,
        123456789.654321,
        -0.000001,
        0.0,
        999999999999.5,   # near the DECIMAL(18,6) per-row domain edge
        -999999999999.5,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(dsum(F.col("v")).alias("s")).collect()[0]["s"]
    want = _exact_micros_sum(vals)
    assert got == want, (got, want)


def test_dsum_davg_no_raise_path_in_plan(spark):
    """r13 verdict item 2: the split-sum COUNT guard's raise_error
    fired at realistic 100 TB group sizes. The r14 4-way split is
    guard-free — no conditional, no raise in any dsum/davg plan."""
    from dataintegration_csvprovider_spark.queries.registry import davg, dsum

    df = spark.range(10).select((F.col("id") * 1.5).alias("v"))
    agg = df.agg(dsum(F.col("v")).alias("s"), davg(F.col("v")).alias("a"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "raise_error" not in plan, plan


def test_tfidf_blocked_prune_output_identical(spark, monkeypatch):
    """All three tf-idf pre-prunes yield the same FINAL query output: the
    block-pair scorer's driver layout (the fixture's own route), its
    executor layout (driver cells cap 0) and the AllPairs prefix path
    (both cells caps 0). Survivor sets may differ at the float margin
    (different summation orders); outputs cannot, since every pre-prune
    feeds the unchanged exact-decimal verification."""
    import dataintegration_csvprovider_spark.queries.llm as llm

    sf = "/root/testdata/sf0.01"
    routes = []
    for name in ("_tfidf_matmul_survivors", "_tfidf_prefix_prune_survivors"):
        fn = getattr(llm, name)

        def traced(*args, _fn=fn, _name=name, **kwargs):
            routes.append((_name, kwargs.get("executor")))
            return _fn(*args, **kwargs)

        monkeypatch.setattr(llm, name, traced)

    def run(driver_cells: int, block_cells: int) -> list:
        saved = llm._TFIDF_DENSE_MAX_CELLS, llm._TFIDF_BLOCK_MAX_CELLS
        llm._TFIDF_DENSE_MAX_CELLS, llm._TFIDF_BLOCK_MAX_CELLS = (
            driver_cells, block_cells
        )
        try:
            return sorted(
                map(tuple, llm.q_tfidf_cosine_pairs(spark, sf).collect())
            )
        finally:
            llm._TFIDF_DENSE_MAX_CELLS, llm._TFIDF_BLOCK_MAX_CELLS = saved

    driver = run(llm._TFIDF_DENSE_MAX_CELLS, llm._TFIDF_BLOCK_MAX_CELLS)
    executor = run(0, llm._TFIDF_BLOCK_MAX_CELLS)
    prefix = run(0, 0)
    assert routes == [
        ("_tfidf_matmul_survivors", False),
        ("_tfidf_matmul_survivors", True),
        ("_tfidf_prefix_prune_survivors", None),
    ]
    assert driver and driver == executor == prefix


def test_covariance_exact_component_reuse_bit_identical(spark):
    """r13 verdict item 8: the r14 covariance rewrite derives per-group
    component sums from ONE shared per-dimension aggregation
    (broadcast-joined back) and generates only the upper triangle via
    slice. Both must be bit-identical to the three-pipelines-per-pair
    form: same dsum12 accumulator over the same multiset of quantized
    values. Reference: exact Decimal arithmetic with the contract's op
    sequence (12-dp quantize, int128 sum, one int->double, /n in
    double)."""
    from dataintegration_csvprovider_spark.operators.linalg import (
        covariance_exact,
    )

    vecs = [
        [1.5, -2.25, 0.000001],
        [-0.75, 4.125, 1000.5],
        [3.0, 0.0, -999.25],
        None,  # NULL vector must be ignored
    ]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    got = {
        (r["i"], r["j"]): r
        for r in covariance_exact(df, "v").collect()
    }
    live = [v for v in vecs if v is not None]
    n = len(live)
    q = lambda x: Decimal(repr(x)).quantize(Decimal("1e-12"))  # noqa: E731

    def s(vals):
        return float(sum(int(q(v) * 10**12) for v in vals)) / 1e12

    assert len(got) == 6  # upper triangle of d=3
    for i in range(3):
        for j in range(i, 3):
            r = got[(i, j)]
            mi = s(v[i] for v in live) / n
            mj = s(v[j] for v in live) / n
            cov = s(v[i] * v[j] for v in live) / n - mi * mj
            assert r["n"] == n
            assert r["mean_i"] == mi, (i, j, r["mean_i"], mi)
            assert r["mean_j"] == mj, (i, j, r["mean_j"], mj)
            assert r["cov"] == cov, (i, j, r["cov"], cov)


def test_davg_matches_exact_mean(spark):
    from dataintegration_csvprovider_spark.queries.registry import davg

    vals = [1.25, -7.5, 3.000001, 1e9, -2.5e8]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(davg(F.col("v")).alias("a")).collect()[0]["a"]
    want = _exact_micros_sum(vals) / len(vals)
    assert math.isclose(got, want, rel_tol=0, abs_tol=0), (got, want)
