"""No-Spark property tests of the block-pair matmul scorer.

``operators/blockpairs.py`` is the one place that scores row-block pairs
by matrix products. These tests sweep every upper-triangle block pair of
a small random matrix, with blocks of a few rows so that a ragged last
block, several diagonal blocks and blocks of empty rows all occur, and
compare the emitted ``(a, b[, value])`` rows with a brute-force double
loop over all pairs, for both keep predicates the package passes it:
exact Jaccard (operators/dedup.py) and the tf-idf cosine pre-prune bound
(``q_tfidf_cosine_pairs``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from dataintegration_csvprovider_spark.operators import blockpairs as bp
from dataintegration_csvprovider_spark.operators.dedup import _jaccard_keep
from dataintegration_csvprovider_spark.queries.llm import _tfidf_keep


@st.composite
def corpora(draw):
    """``(ids, weights, block)``: ascending unique ids (integers or
    strings), a small-integer weight matrix whose rows may be empty or
    repeat an earlier row, and a block size of a few rows."""
    n = draw(st.integers(0, 24))
    v = draw(st.integers(1, 9))
    rows = draw(
        st.lists(
            st.lists(st.sampled_from([0, 0, 0, 1, 2, 3]), min_size=v, max_size=v),
            min_size=n,
            max_size=n,
        )
    )
    mat = np.array(rows, dtype=np.float64).reshape(n, v)
    if n:
        # duplicate rows: copy some rows over others
        for dst in draw(st.lists(st.integers(0, n - 1), max_size=4)):
            mat[dst] = mat[draw(st.integers(0, n - 1))]
        # an empty block's worth of empty rows
        if draw(st.booleans()):
            lo = draw(st.integers(0, n - 1))
            mat[lo:lo + draw(st.integers(1, 6))] = 0.0
    keys = draw(
        st.lists(st.integers(-10_000, 10_000), min_size=n, max_size=n, unique=True)
    )
    ids = np.array(sorted(keys), dtype=np.int64)
    if draw(st.booleans()):
        ids = np.array(sorted(f"doc-{k:+06d}" for k in keys), dtype=object)
    return ids, mat, draw(st.integers(1, 7))


def _swept(ids, mat, side, keep, block, value_col=None, **unpack) -> list:
    tasks = bp.upper_block_pairs(len(ids), block)
    frames = list(bp.sweep(ids, mat, side, keep, tasks, block, value_col, **unpack))
    if not frames:
        return []
    return sorted(map(tuple, pd.concat(frames).itertuples(index=False)))


@settings(max_examples=200, deadline=None)
@given(corpora(), st.floats(0.05, 1.0))
def test_jaccard_sweep_matches_brute_force(corpus, threshold):
    ids, weights, block = corpus
    ind = (weights != 0).astype(np.uint8)
    n, v = ind.shape
    sets = [set(np.flatnonzero(row)) for row in ind]
    want = []
    for i in range(n):
        for j in range(i + 1, n):
            union = len(sets[i] | sets[j])
            if union and len(sets[i] & sets[j]) / union >= threshold:
                want.append((ids[i], ids[j], len(sets[i] & sets[j]) / union))
    # the dense Jaccard route's form: packed bits, unpacked per block
    packed = np.packbits(ind, axis=1)
    got = _swept(
        ids,
        packed,
        ind.sum(axis=1).astype(np.float64),
        _jaccard_keep(threshold),
        block,
        "jaccard",
        unpack=lambda rows: np.unpackbits(rows, axis=1, count=v),
    )
    assert got == sorted(want)


@settings(max_examples=200, deadline=None)
@given(corpora(), st.sampled_from([0.5, 0.8, 0.9, 0.99, 1.0]))
def test_tfidf_bound_sweep_matches_brute_force(corpus, threshold):
    # integer weights keep every dot product exact in any summation
    # order, so the kernel's BLAS dots equal the loop's sums bit for bit
    ids, weights, block = corpus
    n = len(ids)
    norms = np.sqrt((weights * weights).sum(axis=1))
    eps = 2.0 ** -53
    want = []
    for i in range(n):
        for j in range(i + 1, n):
            dot = float(sum(x * y for x, y in zip(weights[i], weights[j])))
            shared = float(sum(1 for x, y in zip(weights[i], weights[j]) if x and y))
            bound = (
                norms[i] * norms[j] * (threshold - 5e-10 - (shared + 8.0) * eps)
                - shared * 5e-13
            )
            if dot >= bound:
                want.append((ids[i], ids[j]))
    got = _swept(ids, weights, norms, _tfidf_keep(threshold), block)
    assert got == sorted(want)


def test_diagonal_block_emits_each_pair_once():
    # two identical rows in one block: their pair leaves once, as
    # (smaller id, larger id), and no row pairs with itself
    ids = np.array([3, 5, 9])
    mat = np.array([[1.0, 2.0], [2.0, 0.0], [1.0, 2.0]])
    norms = np.sqrt((mat * mat).sum(axis=1))
    assert _swept(ids, mat, norms, _tfidf_keep(0.9), block=3) == [(3, 9)]
    # an empty set pairs with nothing, not even another empty set
    ind = np.array([[1, 1], [0, 0], [1, 1], [0, 0]], dtype=np.uint8)
    sizes = ind.sum(axis=1).astype(np.float64)
    got = _swept(np.arange(4), ind, sizes, _jaccard_keep(1.0), 4, "jaccard")
    assert got == [(0, 2, 1.0)]


def test_count_dtype_guard_and_block_rule():
    assert bp.count_dtype((1 << 24) - 1) is np.float32
    assert bp.count_dtype(1 << 24) is np.float64
    for n in (0, 1, 500, 5_000, 200_000):
        for v in (1, 31, 931, 4_000, 100_000, 1 << 24):
            block = bp.block_rows(n, v)
            assert 128 <= block <= 4096
            assert block * v <= bp.BLOCK_CELLS or block == 128
    # about 16 row blocks while the cell budget allows
    assert bp.block_rows(5_000, 931) == 313
    assert bp.block_rows(50_000, 4_000) == 1_000
    assert bp.upper_block_pairs(0, 128) == []
    assert bp.upper_block_pairs(5, 2) == [
        (0, 0), (0, 1), (0, 2), (1, 1), (1, 2), (2, 2)
    ]
