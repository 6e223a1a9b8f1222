"""Advanced SQL-surface parity and analytic extensions: recursive CTEs,
lateral joins, null-safe equality, schema-evolution reads, and the
skyline (Pareto-dominance) operator.

The reference has no SQL surface at all (SURVEY.md §2.7 — the provider is
a row pump, CSVProvider.cs:563-577); these queries extend the engine's SQL
front door (sqlapi.py) with the constructs a user migrating a warehouse
workload onto the engine reaches for next. Each has a full DuckDB oracle.

Scale notes: the recursive CTE generates a bounded date spine (61 rows) on
the driver-side plan — the recursion is metadata-sized, the join against
the fact table is the distributed part and Catalyst broadcasts the spine.
LATERAL correlated subqueries decorrelate into a join + window under
Catalyst rather than per-row re-execution (DecorrelateInnerQuery), so the
plan scales like any aggregation. Null-safe joins compile to the same
equi-join machinery with a null-aware key comparison — still hash-
partitionable, unlike a theta join. mergeSchema parquet reads unify
per-file footers at planning time; at 100 TB the footer listing is
driver-side metadata work, which is why the engine keeps schema evolution
additive (new nullable columns only), the same discipline Delta/Iceberg
enforce.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.skyline import skyline
from .registry import dsum, register, sql_dsum, sql_dsum_shared


def _register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


@register(
    "q_sql_recursive_cte",
    oracle="""
    WITH RECURSIVE spine(d) AS (
      SELECT DATE '1995-03-01'
      UNION ALL
      SELECT d + INTERVAL 1 DAY FROM spine WHERE d < DATE '1995-04-30'
    )
    SELECT s.d AS day, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           {dsum} AS day_revenue
    FROM spine s LEFT JOIN orders o ON o.o_orderdate = s.d
    GROUP BY s.d
    """.format(dsum=sql_dsum("o.o_totalprice")),
    doc="WITH RECURSIVE date spine (61 days) left-joined to orders: the "
        "recursion is metadata-sized, the join is the distributed part.",
    tags=("sql", "recursive"),
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "orders")
    return spark.sql(f"""
        WITH RECURSIVE spine(d) AS (
          SELECT DATE '1995-03-01'
          UNION ALL
          SELECT date_add(d, 1) FROM spine WHERE d < DATE '1995-04-30'
        )
        SELECT s.d AS day, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
               {sql_dsum_shared("o.o_totalprice")}
                 AS day_revenue
        FROM spine s LEFT JOIN orders o ON o.o_orderdate = s.d
        GROUP BY s.d
    """)


@register(
    "q_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.top_orderkey, t.top_price
    FROM customer c,
    LATERAL (
      SELECT o_orderkey AS top_orderkey, o_totalprice AS top_price
      FROM orders WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
    ) t
    WHERE c.c_custkey <= 200
    """,
    doc="Correlated LATERAL top-1 subquery per customer; Catalyst "
        "decorrelates it into a join + window, not per-row re-execution.",
    tags=("sql", "lateral", "join"),
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "customer", "orders")
    return spark.sql("""
        SELECT c.c_custkey, t.top_orderkey, t.top_price
        FROM customer c,
        LATERAL (
          SELECT o_orderkey AS top_orderkey, o_totalprice AS top_price
          FROM orders WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
        ) t
        WHERE c.c_custkey <= 200
    """)


@register(
    "q_join_nullsafe",
    oracle="""
    WITH a AS (SELECT o_orderkey, NULLIF(o_custkey % 7, 3) AS k
               FROM orders WHERE o_orderkey <= 2000),
         b AS (SELECT c_custkey, NULLIF(c_custkey % 7, 3) AS k
               FROM customer WHERE c_custkey <= 100)
    SELECT a.k AS k, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
    doc="Null-safe equi-join (eqNullSafe / IS NOT DISTINCT FROM): NULL "
        "keys match each other, still hash-partitionable unlike a theta "
        "join.",
    tags=("join", "nullsafe"),
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey", F.nullif(F.col("o_custkey") % 7, F.lit(3)).alias("k")
    )
    b = customer.filter(F.col("c_custkey") <= 100).select(
        "c_custkey", F.nullif(F.col("c_custkey") % 7, F.lit(3)).alias("k")
    )
    return (
        a.alias("a")
        .join(b.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k")))
        .groupBy(F.col("a.k").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


@register(
    "q_parquet_schema_evolution",
    oracle="""
    WITH u AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum} AS total_price
    FROM u GROUP BY o_orderstatus
    """.format(dsum=sql_dsum("o_totalprice")),
    doc="mergeSchema parquet read across files written before/after an "
        "additive column change; missing columns surface as NULLs. Footer "
        "merge is driver-side metadata work — the engine keeps evolution "
        "additive (new nullable columns only), as Delta/Iceberg do.",
    tags=("source", "parquet", "schema"),
)
def q_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory(
        prefix="schema_evo_", ignore_cleanup_errors=True
    ) as d:
        old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
        old.write.mode("overwrite").parquet(f"{d}/v1")
        new.write.mode("overwrite").parquet(f"{d}/v2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{d}/v1", f"{d}/v2"
        )
        return (
            merged.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dsum(F.col("o_totalprice")).alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "q_skyline",
    # The NOT EXISTS form is O(n²) — a 2D skyline needs only a sweep:
    # group rows by price, keep each price's best (max) date, then a
    # running max over prices ascending gives, for every row, the best
    # date among strictly-cheaper rows (strict_max) and among
    # cheaper-or-equal rows (leq_max). A row is dominated iff some
    # strictly cheaper row is at least as recent (strict_max >= date)
    # or some cheaper-or-equal row is strictly more recent
    # (leq_max > date; the row itself can never satisfy the strict
    # inequality). Equivalent to the brute NOT EXISTS by case analysis
    # on the dominator's price being < or = — same row set, O(n log n).
    oracle="""
    WITH pp AS (
      SELECT o_totalprice AS p, MAX(o_orderdate) AS best
      FROM orders GROUP BY 1
    ), cm AS (
      SELECT p,
             MAX(best) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS strict_max,
             MAX(best) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING)
               AS leq_max
      FROM pp
    )
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o JOIN cm ON cm.p = o.o_totalprice
    WHERE (cm.strict_max IS NULL OR cm.strict_max < o.o_orderdate)
      AND cm.leq_max <= o.o_orderdate
    """,
    doc="Skyline: orders Pareto-optimal on (min price, max recency) via "
        "the two-phase per-partition scheme (operators/skyline.py); the "
        "oracle runs the equivalent sort-sweep (per-price best date + "
        "running max), O(n log n) in place of the brute NOT EXISTS.",
    tags=("skyline", "analytics"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    return skyline(orders, minimize=["o_totalprice"], maximize=["o_orderdate"])


_SUM_QTY = sql_dsum("l_quantity")


@register(
    "q_orc_pushdown",
    # round 11: the q_orc_roundtrip companion (relational7.py covers
    # the basic value roundtrip) — this one pins the SCAN DISCIPLINE
    # through the format conversion: dates and decimals survive, AND the
    # filter below is checked against the executed ORC scan's pushed
    # filters, so a regression to a full-scan-then-filter plan fails
    # the hash gate, not just a benchmark. The oracle replays the
    # aggregate from the parquet fixture — equal results pin the
    # format conversion as lossless for every column the aggregate
    # touches.
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_SUM_QTY} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_price,
           CAST(MIN(l_shipdate) AS VARCHAR) AS min_ship,
           CAST(MAX(l_shipdate) AS VARCHAR) AS max_ship,
           TRUE AS filter_pushed
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
    GROUP BY l_returnflag
    """,
    doc="ORC round-trip with pushdown check: lineitem is written to "
        "ORC, read back, filtered on l_shipdate and aggregated; the "
        "executed plan must show the predicate pushed into the ORC "
        "scan (checked in-query, oracle-pinned TRUE), and the "
        "aggregate — counts, decimal-accumulated sums, date min/max "
        "rendered as strings — must equal the parquet fixture's, "
        "pinning the format conversion lossless. Spark's ORC writer "
        "is the same distributed sink path as parquet; nothing "
        "driver-side.",
    tags=("source", "orc", "format", "pushdown"),
)
def q_orc_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    with tempfile.TemporaryDirectory(
        prefix="orc_pd_", ignore_cleanup_errors=True
    ) as d:
        li.write.mode("overwrite").orc(d)
        back = spark.read.orc(d)
        filtered = back.filter(F.col("l_shipdate") >= F.lit("1995-01-01"))
        agg = filtered.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
            F.min("l_shipdate").cast("string").alias("min_ship"),
            F.max("l_shipdate").cast("string").alias("max_ship"),
        )
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        pushed = ("PushedFilters: [" in plan) and (
            "l_shipdate" in plan.split("PushedFilters: [", 1)[1].split(
                "]", 1
            )[0]
        )
        return agg.select(
            "*", F.lit(bool(pushed)).alias("filter_pushed")
        ).localCheckpoint(eager=True)
