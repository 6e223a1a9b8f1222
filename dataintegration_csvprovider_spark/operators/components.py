"""Connected components: a driver union-find for small integral edge
sets, alternating large-star / small-star contraction otherwise.

The missing half of near-dup dedup: pair emitters (minhash / simhash /
n-gram Jaccard, operators/dedup.py) produce an *edge list*; to keep one
representative per duplicate *cluster* you need the transitive closure.
The reference has no graph surface (CSV row pump only,
CSVProvider.cs:563-601); this is part of the engine's §2.10 LLM-pipeline
extension.

Two layouts, picked from the input the way the n-gram Jaccard and
TF-IDF pair paths pick theirs from measured boxes:

- **Driver layout** (``connected_components`` only): when the ids are
  integral and at most :data:`DRIVER_MAX_EDGES` canonical (hi, lo) rows
  come back from one capped Arrow collect, a union-find with min-id
  roots labels them on the driver and the labels return as a DataFrame
  built from a pyarrow Table (no Python worker round trip). That is one
  Spark job with no AQE planning gaps, where the contraction runs
  several per round: on the ``curate_dedup`` benchmark's 41 pair edges
  (seed 1, local[4] on a shared 4-vCPU host) the component step takes
  about 0.07 s against 0.52 s, and the operation's Spark jobs fall from
  14 to 7.
- **Contraction** (everything else, and always for
  ``connected_components_stats``, whose round count is its point): the
  only route for edge sets beyond driver memory.

Contraction algorithm: alternating large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014). Each round
is two keyed shuffles; the edge set contracts toward a star per
component in O(log n) rounds — unlike naive min-label propagation,
whose round count is the graph *diameter* (a 1M-node chain would need
1M rounds; large-star/small-star needs ~20). That difference is the
whole 100 TB story: dedup graphs at web scale have long chains through
mutual near-dups.

Physical shape per round: neighborhood minima come from a window `min`
over the node partition — no `collect_list`, so a hub node with 10M
neighbors never materializes its neighbor array in one task. Each plan
is Spark SQL text (`selectExpr`/`where`), a handful of py4j calls per
round. Lineage is truncated with a `localCheckpoint` every round (the
edge set shrinks monotonically per round, and iterative-join lineage
otherwise compounds planning cost — same trade measured for PageRank,
operators/graph.py). Convergence is detected by an order-insensitive
edge-set checksum (count + decimal sum of xxhash64). A round is ONE
action: a single aggregate grouped by side over the round's input and
output edge sets checksums both, and that same job materializes the
lazily checkpointed output; the round count stops when the two
checksums agree. There is no separate checksum of the input edges.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..functions.sqltext import sql_ident

#: driver-layout box: at most this many (hi, lo) edge rows are labeled
#: by a union-find on the driver. Sized by driver memory, not speed: the
#: driver route was the faster one at every size measured. One run each,
#: local[4] on a shared 4-vCPU / 15 GB host, 2g heap, near-dup-shaped
#: random graphs over twice as many nodes, labels equal to the
#: contraction's up to 1e5 edges; RSS is the growth of the driver
#: processes' peak over the step:
#:
#:   edges   driver route                          contraction
#:   1e3     0.31 s                                2.85 s
#:   1e4     0.31 s                                3.26 s
#:   1e5     1.32 s, Python +17 MB, JVM +37 MB     5.86 s
#:   1e6     6.66 s, Python +155 MB, JVM +536 MB   17.1 s, JVM +1.66 GB
#:
#: At 1e5 the route adds under 60 MB, a twentieth of the smallest
#: default heap (1g). At 1e6 it would add about 0.7 GB to the driver
#: alone, where the contraction's memory is its shuffles', on executors
#: in a cluster. Above the box the edges are read twice: the capped
#: collect evaluates the edge plan (each partition stops after
#: DRIVER_MAX_EDGES + 1 rows) and fetches that many rows before the
#: contraction reads them again: 0.23-0.27 s on 1e6 checkpointed edges,
#: against the contraction's 17 s. An edge plan that is not checkpointed
#: or cached is computed once more for it.
DRIVER_MAX_EDGES = 100_000


def _hi_lo(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Project the SQL columns ``src``/``dst`` to (hi, lo)."""
    return edges.selectExpr(f"greatest({src}, {dst}) AS hi", f"least({src}, {dst}) AS lo")


def _canon(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonicalize the SQL columns ``src``/``dst`` to (hi, lo), drop
    self-loops, dedup."""
    return _hi_lo(edges, src, dst).where("hi != lo").distinct()


def _driver_labels(edges: DataFrame, src: str, dst: str) -> DataFrame | None:
    """The driver layout: (node, component) from a union-find over the
    collected (hi, lo) edges, or None when the ids are not integral or
    more than :data:`DRIVER_MAX_EDGES` edges come back."""
    hi_lo = _hi_lo(edges, src, dst)
    if not isinstance(hi_lo.schema["hi"].dataType, IntegralType):
        return None
    table = hi_lo.limit(DRIVER_MAX_EDGES + 1).toArrow()
    if table.num_rows > DRIVER_MAX_EDGES:
        return None
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for hi, lo in zip(table["hi"].to_pylist(), table["lo"].to_pylist()):
        # greatest/least skip NULL: a NULL hi is a NULL pair, and an edge
        # with one NULL end is a self-loop, both dropped like _canon's
        if hi is None or hi == lo:
            continue
        parent.setdefault(hi, hi)
        parent.setdefault(lo, lo)
        a, b = find(hi), find(lo)
        if a != b:
            parent[max(a, b)] = min(a, b)
    nodes = list(parent)
    # the Arrow type is the one toArrow gave hi, so the frame's Spark type
    # is the projection's
    id_type = table.schema.field("hi").type
    labels = pa.table({
        "node": pa.array(nodes, id_type),
        "component": pa.array([find(n) for n in nodes], id_type),
    })
    return edges.sparkSession.createDataFrame(labels)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to the
    minimum of u's closed neighborhood.

    Round-13 optimization (guide §2.4 remove shuffles outright): the
    output needs NO canon pass — every emitted edge is already
    canonical and loop-free (v > u >= m, so hi=v > lo=m), and
    duplicate rows are harmless to the following small-star (its
    neighborhood min is duplicate-insensitive and its own canon
    dedups before the checksum). Dropping the intermediate distinct
    removes one full shuffle per contraction round; the per-round edge
    SET (checksum, convergence, labels) is unchanged."""
    return (
        edges.selectExpr("hi AS u", "lo AS v")
        .unionAll(edges.selectExpr("lo AS u", "hi AS v"))
        .selectExpr("u", "v", "least(min(v) OVER (PARTITION BY u), u) AS m")
        .where("v > u")
        .selectExpr("v AS hi", "m AS lo")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect u and all its smaller neighbors to the
    minimum of those neighbors."""
    withm = edges.selectExpr("hi", "lo", "min(lo) OVER (PARTITION BY hi) AS m")
    return _canon(
        withm.selectExpr("lo AS src", "m AS dst").unionAll(
            withm.selectExpr("hi AS src", "m AS dst")
        )
    )


def _unchanged(before: DataFrame, after: DataFrame) -> bool:
    """Whether two edge sets have the same order-insensitive checksum
    (count + decimal sum of xxhash64): one aggregate over both, one
    action."""
    rows = (
        before.selectExpr("0 AS side", "hi", "lo")
        .unionAll(after.selectExpr("1 AS side", "hi", "lo"))
        .groupBy("side")
        .agg(F.expr("count(1)"), F.expr("sum(CAST(xxhash64(hi, lo) AS DECIMAL(38,0)))"))
        .collect()
    )
    sums = {r[0]: tuple(r[1:]) for r in rows}
    return sums.get(0) == sums.get(1)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node appearing in ``edges`` with its component's
    minimum node id. Returns (node, component), typed like
    ``greatest(src, dst)``; nodes absent from the edge list, and nodes
    seen only in self-loops or beside a NULL end, are the caller's to
    default (they are their own singleton component).

    Integral ids with at most :data:`DRIVER_MAX_EDGES` edges take the
    driver layout (module docstring): one capped Arrow collect and a
    union-find, which always finishes, so ``max_iter`` is unused there.
    Other id types and larger edge sets take the contraction of
    :func:`connected_components_stats`, which raises once ``max_iter``
    rounds pass without a fixpoint. Both routes read the edges before
    they return, and their labels are equal.
    """
    labels = _driver_labels(edges, sql_ident(src), sql_ident(dst))
    if labels is None:
        labels = connected_components_stats(edges, src, dst, max_iter)[0]
    return labels


def connected_components_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> tuple[DataFrame, int]:
    """:func:`connected_components` plus the observed ROUND COUNT — the
    quantity the O(log n) convergence claim stands on. It always runs the
    contraction, whatever the edge count (the driver layout has no
    rounds to count). A round is one
    large-star + small-star contraction; the count is known eagerly
    (each round checkpoints and checksums), so callers can pin it in a
    gate: on a skewed hub graph of n nodes the bound is ~log2(n) + a
    small constant, vs n rounds for naive min-label propagation on a
    chain. Returns (labels, n_rounds) where n_rounds counts contraction
    rounds EXECUTED including the fixpoint-confirming one."""
    # one action per round: the checkpoint is LAZY, and the round's
    # checksum aggregate materializes the new edge set (truncating its
    # lineage) while it compares it with the previous one
    e = _canon(edges, sql_ident(src), sql_ident(dst)).localCheckpoint(eager=False)
    for rounds in range(1, max_iter + 1):
        prev, e = e, _small_star(_large_star(e)).localCheckpoint(eager=False)
        if _unchanged(prev, e):
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # fixpoint edge set is a star per component: hi -> component min
    labels = (
        e.selectExpr("hi AS node", "lo AS component")
        .unionAll(e.selectExpr("lo AS node", "lo AS component"))
        .distinct()
    )
    return labels, rounds


def incremental_components(
    labels: DataFrame | None,
    batch_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """One incremental connected-components maintenance step: fold a
    BATCH of new edges into an existing min-id label table (round 11 —
    the dedup-components maintenance story for a growing corpus).

    The global contraction never re-runs: batch endpoints are relabeled
    through the current labels (two left joins against the label
    table), large-star/small-star runs only on the CONTRACTED batch
    graph — whose node set is component ids + genuinely new nodes, size
    bounded by the batch, not the corpus — and the resulting
    component-of-component mapping composes back over the label table
    with one keyed join. Composition preserves the global min-id
    convention: existing component ids ARE their groups' minimum node
    ids, new nodes enter as their own ids, so the contracted CC's
    min-reachable label is the merged group's true global minimum.

    ``labels``: (node, component) or None before the first batch.
    Returns the new (node, component) covering every previously
    labeled node plus all batch endpoints. Per-batch cost: O(batch)
    contraction + two label-table-keyed shuffles — the work a 100 TB
    corpus pays for a daily edge delta, instead of re-clustering the
    world.
    """
    e = batch_edges.select(
        F.col(src).cast("bigint").alias("a"),
        F.col(dst).cast("bigint").alias("b"),
    ).distinct()
    batch_nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    if labels is None:
        base_labels = batch_nodes.select(
            "node", F.col("node").alias("component")
        )
        rel = e
    else:
        la = labels.select(
            F.col("node").alias("a"), F.col("component").alias("ca")
        )
        lb = labels.select(
            F.col("node").alias("b"), F.col("component").alias("cb")
        )
        rel = (
            e.join(la, "a", "left")
            .join(lb, "b", "left")
            .select(
                F.coalesce(F.col("ca"), F.col("a")).alias("a"),
                F.coalesce(F.col("cb"), F.col("b")).alias("b"),
            )
        )
        new_nodes = batch_nodes.join(
            labels.select("node"), "node", "left_anti"
        )
        base_labels = labels.unionByName(
            new_nodes.select("node", F.col("node").alias("component"))
        )
    contracted = rel.filter(F.col("a") != F.col("b")).distinct()
    if contracted.limit(1).count() == 0:
        return base_labels
    mapping = connected_components(
        contracted, src="a", dst="b", max_iter=max_iter
    ).select(
        F.col("node").alias("old_c"), F.col("component").alias("new_c")
    )
    return base_labels.join(
        mapping, base_labels.component == mapping.old_c, "left"
    ).select(
        "node",
        F.coalesce(F.col("new_c"), F.col("component")).alias("component"),
    )
