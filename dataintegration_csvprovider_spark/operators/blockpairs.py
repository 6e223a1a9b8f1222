"""Exact all-pairs scoring by blocked matrix products.

The one block-pair matmul path of the package. Exact n-gram Jaccard's
``dense`` method (operators/dedup.py) and the TF-IDF cosine pre-prune
(``q_tfidf_cosine_pairs``) both reduce a pair search to a (rows x
vocabulary) matrix, rows sorted by id: the rows are cut into blocks of
:func:`block_rows`, every upper-triangle block pair ``(bi, bj)``,
``bi <= bj``, is scored by :func:`score_block_pair`, which emits the
kept pairs as ``(a, b[, value])`` with ``a < b``.

The caller passes a numpy keep predicate
``keep(common, dot, side_a, side_b) -> (mask, value | None)``:

- ``common`` is the shared-column count of each pair, an indicator
  matrix product. Its dtype guard (:func:`count_dtype`) keeps every
  partial sum an exact integer: float32 below 2^24 columns, float64
  from there;
- ``dot`` is the float64 weight product for float64 blocks; any other
  block dtype is a 0/1 indicator, whose dot is ``common`` itself;
- ``side_a``/``side_b`` slice a per-row float64 vector the caller
  supplies (set sizes for Jaccard, norms for cosine).

Two physical layouts; the caller's size boxes pick one:

- :func:`driver_block_pairs`: the driver holds the whole matrix (in any
  compact form its ``unpack`` expands per block) and broadcasts it;
  block pairs are batched into at most two tasks per core. The cheaper
  layout for a matrix that fits the driver: ``q_tfidf_cosine_pairs``
  at 500 and 5,000 docs x 31 terms (sf0.01, sf0.1; 4 vCPUs) ran in
  0.75-1.06 s and 1.21-1.45 s, against 1.13-1.54 s and 4.9-5.4 s
  in the executor layout, with equal outputs.
- :func:`executor_block_pairs`: the matrix never exists on the driver.
  Each row block is packed on an executor from ``(id, col, w)`` rows
  (``applyInPandas``) and block pairs meet by two joins against the
  pair index, one pair per task; the driver holds only the sorted ids,
  columns and side vector. The layout for dense-shaped inputs above
  the driver's box: at 50,000 docs x 620 terms (the sf1 fixture) it
  took 54-61 s on 4 vCPUs.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: a block's dense slice holds at most this many cells (32 MB of float64)
BLOCK_CELLS = 4_000_000


def block_rows(n: int, v: int) -> int:
    """Rows per block for an ``n`` x ``v`` matrix: about 16 row blocks
    (136 block pairs), so a small matrix still spreads over the cores,
    with a block's slice within :data:`BLOCK_CELLS`; between 128 and
    4096 rows. Without the 16-block fan-out, Jaccard's 5,000 x 931
    fixture ran as 6 block pairs and 10% slower; a 2048-row cap made the
    executor layout's 50,000 x 620 run 20% slower (325 block pairs
    against 136)."""
    return max(128, min(4096, BLOCK_CELLS // max(v, 1), -(-n // 16)))


def count_dtype(v: int) -> type:
    """The indicator dtype whose matrix product counts exactly up to
    ``v`` shared columns."""
    return np.float32 if v < 1 << 24 else np.float64


def upper_block_pairs(n: int, block: int) -> list[tuple[int, int]]:
    """Every ``(bi, bj)`` with ``bi <= bj`` over ``n`` rows."""
    nb = -(-n // block)
    return [(bi, bj) for bi in range(nb) for bj in range(bi, nb)]


def score_block_pair(
    A: np.ndarray,
    B: np.ndarray,
    bi: int,
    bj: int,
    block: int,
    ids: np.ndarray,
    side: np.ndarray,
    keep: Callable,
    value_col: str | None = None,
) -> pd.DataFrame | None:
    """Score row block ``bi`` (``A``) against row block ``bj`` (``B``)
    and emit the kept pairs as ``(a, b[, value_col])``, or None when no
    pair is kept. On the diagonal block only the strict upper triangle
    counts, so a pair leaves once and never pairs with itself."""
    ra = slice(bi * block, bi * block + len(A))
    rb = slice(bj * block, bj * block + len(B))
    ind = count_dtype(A.shape[1])
    common = ((A != 0).astype(ind) @ (B != 0).astype(ind).T).astype(np.float64)
    dot = A @ B.T if A.dtype == np.float64 else common
    mask, value = keep(common, dot, side[ra], side[rb])
    if bi == bj:
        mask &= np.triu(np.ones(mask.shape, dtype=bool), k=1)
    ai, bx = np.nonzero(mask)
    if not len(ai):
        return None
    out = {"a": ids[ra][ai], "b": ids[rb][bx]}
    if value_col:
        out[value_col] = value[ai, bx]
    return pd.DataFrame(out)


def sweep(
    ids: np.ndarray,
    mat: np.ndarray,
    side: np.ndarray,
    keep: Callable,
    tasks: Iterable[tuple[int, int]],
    block: int,
    value_col: str | None = None,
    unpack: Callable = lambda rows: rows,
) -> Iterator[pd.DataFrame]:
    """Score the block pairs ``tasks`` of the whole matrix ``mat`` (rows
    in ``ids`` order; ``unpack`` expands a row slice to its dense block)
    and yield one frame per block pair that keeps any pair."""
    for bi, bj in tasks:
        A = unpack(mat[bi * block:(bi + 1) * block])
        B = unpack(mat[bj * block:(bj + 1) * block])
        frame = score_block_pair(A, B, bi, bj, block, ids, side, keep, value_col)
        if frame is not None:
            yield frame


def _tasks_frame(spark: SparkSession, tasks: list[tuple[int, int]]) -> DataFrame:
    """The block pairs ``tasks`` as a ``(bi int, bj int)`` frame, built
    from an Arrow table: one from a list of rows paid a Python-worker
    round trip when collected."""
    bi, bj = zip(*tasks)
    return spark.createDataFrame(
        pa.table({"bi": pa.array(bi, pa.int32()), "bj": pa.array(bj, pa.int32())})
    )


def _schema(id_type: str, value_col: str | None) -> str:
    value = f", {value_col} double" if value_col else ""
    return f"a {id_type}, b {id_type}{value}"


def driver_block_pairs(
    spark: SparkSession,
    ids: np.ndarray,
    mat: np.ndarray,
    side: np.ndarray,
    keep: Callable,
    id_type: str,
    value_col: str | None = None,
    unpack: Callable = lambda rows: rows,
) -> DataFrame:
    """Driver-broadcast layout: broadcast ``(ids, mat, side)`` (rows in
    ascending ``ids`` order) and score the block pairs as tasks."""
    v = unpack(mat[:1]).shape[1]
    block = block_rows(len(ids), v)
    tasks = upper_block_pairs(len(ids), block)
    if not tasks:
        return spark.createDataFrame([], _schema(id_type, value_col))
    bc = spark.sparkContext.broadcast((ids, mat, side))

    def score(batches):
        ids_b, mat_b, side_b = bc.value
        for pdf in batches:
            yield from sweep(
                ids_b, mat_b, side_b, keep, zip(pdf["bi"], pdf["bj"]),
                block, value_col, unpack,
            )

    par = spark.sparkContext.defaultParallelism
    tasks_df = _tasks_frame(spark, tasks).repartition(
        min(len(tasks), par * 2)
    )
    return tasks_df.mapInPandas(score, _schema(id_type, value_col))


def executor_block_pairs(
    spark: SparkSession,
    entries: DataFrame,
    ids: np.ndarray,
    cols: np.ndarray,
    side: np.ndarray,
    keep: Callable,
    id_type: str,
    value_col: str | None = None,
) -> DataFrame:
    """Executor-packed layout over the nonzero ``entries`` ``(id, col,
    w)``: ``ids`` and ``cols`` are the sorted row ids and column keys,
    ``side`` is in ``ids`` order. Each block's float64 slice is packed
    by ``applyInPandas`` over a broadcast-joined ``(id, bi)`` map; the
    block pairs are formed by two joins of the block table against the
    pair index, one pair per partition."""
    n, v = len(ids), len(cols)
    block = block_rows(n, v)
    tasks = upper_block_pairs(n, block)
    if not tasks:
        return spark.createDataFrame([], _schema(id_type, value_col))
    bc = spark.sparkContext.broadcast((ids, cols, side))
    bmap = spark.createDataFrame(
        pd.DataFrame({"id": ids, "bi": (np.arange(n) // block).astype("int32")})
    )

    def pack(key, pdf):
        ids_b, cols_b, _ = bc.value
        bi = int(key[0])
        r0 = bi * block
        m = np.zeros((min(r0 + block, n) - r0, v), dtype=np.float64)
        m[
            np.searchsorted(ids_b, pdf["id"].to_numpy()) - r0,
            np.searchsorted(cols_b, pdf["col"].to_numpy()),
        ] = pdf["w"].to_numpy()
        return pd.DataFrame({"bi": [bi], "m": [m.reshape(-1)]})

    blocks = (
        entries.select("id", "col", "w")
        .join(F.broadcast(bmap), "id")
        .groupBy("bi")
        .applyInPandas(pack, "bi int, m array<double>")
    )
    joined = (
        _tasks_frame(spark, tasks)
        .join(blocks.withColumnRenamed("m", "ma"), "bi")
        .join(
            blocks.withColumnRenamed("m", "mb").withColumnRenamed("bi", "bj"),
            "bj",
        )
        # one fat row per partition: each row carries two block blobs,
        # so batching several into one Arrow batch would multiply task
        # memory for no win
        .repartition(len(tasks))
    )

    def score(batches):
        ids_b, _, side_b = bc.value
        for pdf in batches:
            for bi, bj, ma, mb in zip(pdf["bi"], pdf["bj"], pdf["ma"], pdf["mb"]):
                A = np.asarray(ma, dtype=np.float64).reshape(-1, v)
                B = np.asarray(mb, dtype=np.float64).reshape(-1, v)
                frame = score_block_pair(
                    A, B, bi, bj, block, ids_b, side_b, keep, value_col
                )
                if frame is not None:
                    yield frame

    return joined.mapInPandas(score, _schema(id_type, value_col))
