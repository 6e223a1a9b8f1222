"""Round-2 additions: heavy hitters, interval-overlap join, distribution
drift, ORC roundtrip.

Each query pairs a scale-aware Spark plan with a plain-SQL oracle:

- heavy hitters: Misra-Gries partition sketches bound the shuffle to
  O(k · partitions) candidates; the exact recount makes the result equal
  the naive `GROUP BY ... HAVING` the oracle runs.
- interval overlap: sessions are binned onto an hour grid so the
  overlap test becomes an equi-join on the bucket key — the standard
  trick that turns an O(n²) broadcast-nested-loop theta join into a
  shuffle-partitionable join; exact predicate re-verified after the
  bin join, duplicates from multi-bucket spans removed by pair dedup.
- drift: first-half vs second-half event-type distributions compared by
  total variation distance — rational arithmetic only (no ln, unlike
  PSI/KL) so both engines fold bit-equal doubles.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.frequent import heavy_hitters
from .registry import davg, dsum, register, sql_davg, sql_dsum


@register(
    "q_heavy_hitters",
    oracle="""
    SELECT user_id, COUNT(*) AS n
    FROM events GROUP BY user_id
    HAVING COUNT(*) > 0.0075 * (SELECT COUNT(*) FROM events)
    """,
    doc="Users above 0.75% of all events, sketch-first: per-partition "
        "Misra-Gries (mapInPandas, k=267 counters) nominates candidates "
        "— a guaranteed superset since N/(k+1) < threshold — and a "
        "broadcast-semi-join recount returns the exact HAVING answer.",
    tags=("agg", "sketch", "heavy-hitters"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", min_frac=0.0075)


_SESSIONS_SQL = """
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid,
             ts
      FROM flagged
    ), spans AS (
      SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sessions GROUP BY user_id, sid
    )
"""


@register(
    "q_interval_overlap_join",
    oracle=f"""
    WITH {_SESSIONS_SQL}
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           COUNT(*) AS n_overlaps
    FROM spans a JOIN spans b
      ON a.user_id < b.user_id
     AND a.s_start <= b.s_end AND b.s_start <= a.s_end
    GROUP BY a.user_id, b.user_id
    """,
    doc="Concurrent-session detection: 30-min-gap sessions per user "
        "(users < 40), then pairs of sessions from different users whose "
        "[start, end] intervals overlap, counted per user pair. The "
        "Spark plan bins each interval onto the hours it covers and "
        "equi-joins on the bucket (partitionable at any scale), dedupes "
        "the multi-bucket hits, and re-verifies the exact predicate; "
        "the oracle runs the quadratic theta join directly.",
    tags=("join", "interval", "timeseries"),
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.select("user_id", "ts").withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts")
                >= F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")
            ),
            1,
        ).otherwise(0),
    )
    spans = (
        flagged.withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    binned = spans.select(
        "user_id",
        "sid",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    a, b = binned.alias("a"), binned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.s_start") <= F.col("b.s_end"))
            & (F.col("b.s_start") <= F.col("a.s_end")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.sid").alias("sid_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.sid").alias("sid_b"),
        )
        .distinct()  # a pair can meet in several shared buckets
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_overlaps")
    )


@register(
    "q_drift_tvd",
    oracle=f"""
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ), halves AS (
      SELECT event_type, epoch_us(ts) < (SELECT mid FROM bounds) AS first_half
      FROM events
    ), per_bucket AS (
      SELECT event_type,
             COUNT(*) FILTER (first_half) AS n1,
             COUNT(*) FILTER (NOT first_half) AS n2
      FROM halves GROUP BY event_type
    ), tot AS (
      SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM per_bucket
    )
    SELECT CAST((SELECT t1 FROM tot) AS BIGINT) AS n_first,
           CAST((SELECT t2 FROM tot) AS BIGINT) AS n_second,
           COUNT(*) AS n_buckets,
           0.5 * {sql_dsum('abs(CAST(n1 AS DOUBLE) / (SELECT t1 FROM tot) '
                           '- CAST(n2 AS DOUBLE) / (SELECT t2 FROM tot))')}
             AS tvd
    FROM per_bucket
    """,
    doc="Distribution drift between the first and second half of the "
        "event stream (split at the epoch-microsecond midpoint): total "
        "variation distance over the event_type distribution. TVD "
        "instead of PSI/KL keeps the metric rational (no ln) so both "
        "engines agree bit-exactly; per-bucket |p-q| terms fold through "
        "the decimal accumulator.",
    tags=("profiling", "drift"),
)
def q_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NTZ-safe: cast to LTZ (session is UTC, values unchanged) before
    # taking epoch microseconds
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    bounds = ev.agg(F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid"))
    halves = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type", (F.col("ts_us") < F.col("mid")).alias("first_half")
    )
    per_bucket = halves.groupBy("event_type").agg(
        F.count_if("first_half").alias("n1"),
        F.count_if(~F.col("first_half")).alias("n2"),
    )
    tot = per_bucket.agg(
        F.sum("n1").alias("t1"), F.sum("n2").alias("t2")
    )
    absdiff = F.abs(
        F.col("n1").cast("double") / F.col("t1")
        - F.col("n2").cast("double") / F.col("t2")
    )
    return (
        per_bucket.crossJoin(F.broadcast(tot))
        .agg(
            F.max("t1").cast("bigint").alias("n_first"),
            F.max("t2").cast("bigint").alias("n_second"),
            F.count(F.lit(1)).alias("n_buckets"),
            (F.lit(0.5) * dsum(absdiff)).alias("tvd"),
        )
    )


@register(
    "q_orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem WHERE l_orderkey < 1000 GROUP BY l_returnflag
    """,
    doc="ORC format roundtrip: lineitem slice written as ORC (zlib), "
        "read back, aggregated — values survive the format conversion "
        "exactly, so the parquet-sourced oracle matches.",
    tags=("source", "orc"),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    with tempfile.TemporaryDirectory(
        prefix="orc_rt_", ignore_cleanup_errors=True
    ) as d:
        li.write.mode("overwrite").orc(d)
        back = spark.read.orc(d)
        # Eagerly materialize the small aggregate so the temp dir can be
        # reclaimed before the caller consumes the DataFrame.
        return (
            back.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum(F.col("l_quantity")).alias("sum_qty"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "q_impute_group_mean",
    # round 9: the reported total rides the identity
    #   total_after = sum(observed) + n_imputed * mean
    # computed entirely in IEEE doubles from the exact decimal observed
    # sum — the earlier form cast the imputed mean back into the
    # decimal(18,6) accumulator, and a dyadic mean (decimal sum over a
    # power-of-two count) lands exactly on the cast midpoint where
    # Spark rounds half-up and DuckDB half-even (one 8e-6 divergence
    # surfaced at sf0.1; the registry's documented midpoint class).
    # r13 decimal-sum migration: per-user sums are generator-bounded
    # today (~66 events/user at every SF), but the micros form removes
    # the dependence on that generator invariant.
    oracle=f"""
    WITH masked AS (
      SELECT user_id, event_type,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ), means AS (
      SELECT user_id,
             {sql_davg("v")} AS user_mean
      FROM masked GROUP BY user_id
    )
    SELECT m.user_id,
           COUNT(*) AS n,
           COUNT(*) FILTER (m.v IS NULL) AS n_imputed,
           {sql_dsum("m.v")}
             + COUNT(*) FILTER (m.v IS NULL) * MAX(s.user_mean)
             AS total_after_impute
    FROM masked m JOIN means s ON m.user_id = s.user_id
    GROUP BY m.user_id
    """,
    doc="Missing-value imputation with the per-group mean: error-row "
        "values are masked NULL, each user's mean over observed values "
        "is computed once (decimal sum / count — deterministic) and "
        "joined back to fill the gaps. Two shuffles on the same key; "
        "the mean table is group-cardinality small. The standard "
        "feature-cleaning op before training. The reported total uses "
        "the sum(observed) + n_imputed*mean identity — pure IEEE from "
        "exact decimal parts, bit-equal across engines at every SF.",
    tags=("agg", "impute", "quality"),
)
def q_impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    means = masked.groupBy("user_id").agg(
        davg(F.col("v")).alias("user_mean")
    )
    return (
        masked.join(means, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("v").isNull()).alias("n_imputed"),
            (
                dsum(F.col("v"))
                + F.count_if(F.col("v").isNull()) * F.max("user_mean")
            ).alias("total_after_impute"),
        )
    )


@register(
    "q_winsorize",
    # Round 12: bounds are exact ORDER STATISTICS, not interpolated
    # percentiles. Interpolated quantiles (Spark percentile / DuckDB
    # quantile_cont) agree only to ~1 ulp — at the local sf1 fixture,
    # whose replicas duplicate each value ~10x, a 1-ulp bound shift
    # flipped 50 boundary-tied rows of n_clipped. The k-th-smallest
    # bound is a VALUE FROM THE DATA selected by pure integer rank
    # arithmetic (k = (5|95)(n-1) DIV 100 + 1), so both engines pick
    # the identical double. Computed over DISTINCT values + counts
    # (the window rides |distinct|, not |rows| — the distributed exact
    # percentile shape).
    # Round 13 (r12 ADVICE, latent): bound selection is NULL-proof —
    # npg/dv ride only observed values. Without the filter, Spark's
    # window ORDER BY value sorts NULLs FIRST while DuckDB defaults to
    # NULLs LAST, shifting cum and the selected k-th value, and gn
    # would count NULLs the old percentile ignored. Current fixtures
    # have zero NULL values; this pins the semantics before one does.
    oracle=f"""
    WITH npg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL GROUP BY event_type),
    dv AS (
      SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, value),
    cum AS (
      SELECT event_type, value,
             SUM(c) OVER (PARTITION BY event_type ORDER BY value
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM dv),
    bounds AS (
      SELECT cum.event_type,
             MIN(CASE WHEN cum >= (5 * (n - 1)) // 100 + 1
                      THEN value END) AS lo,
             MIN(CASE WHEN cum >= (95 * (n - 1)) // 100 + 1
                      THEN value END) AS hi
      FROM cum JOIN npg USING (event_type)
      GROUP BY cum.event_type)
    SELECT e.event_type,
           COUNT(*) AS n,
           COUNT(*) FILTER (e.value < b.lo OR e.value > b.hi) AS n_clipped,
           {sql_dsum('least(greatest(e.value, b.lo), b.hi)')} AS total_winsorized
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type
    """,
    doc="Winsorization (outlier clipping to the per-group P5/P95 band): "
        "exact order-statistic bounds per event type (k-th smallest by "
        "integer rank arithmetic over distinct values — engine-exact, "
        "unlike interpolated percentiles which agree only to ~1 ulp), "
        "broadcast back onto the stream, values clamped with "
        "least/greatest. The robust-statistics companion to the "
        "z-score anomaly flags.",
    tags=("agg", "percentile", "quality"),
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from .registry import dsum

    ev = load_table(spark, sf_dir, "events")
    # NULL-proof bound selection (mirrors the oracle CTE filters): the
    # rank arithmetic must ride observed values only, or cross-engine
    # NULL sort order shifts the selected k-th value
    evn = ev.filter(F.col("value").isNotNull())
    npg = evn.groupBy("event_type").agg(F.count(F.lit(1)).alias("gn"))
    dv = evn.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dv.withColumn("cum", F.sum("c").over(wc))
    k_lo = F.expr("(5 * (gn - 1)) DIV 100 + 1")
    k_hi = F.expr("(95 * (gn - 1)) DIV 100 + 1")
    bounds = (
        cum.join(F.broadcast(npg), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("cum") >= k_lo, F.col("value"))
            ).alias("lo"),
            F.min(
                F.when(F.col("cum") >= k_hi, F.col("value"))
            ).alias("hi"),
        )
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(
                (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
            ).alias("n_clipped"),
            dsum(clipped).alias("total_winsorized"),
        )
    )


@register(
    "q_relational_division",
    oracle="""
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM (SELECT DISTINCT event_type FROM events) t
      WHERE NOT EXISTS (
        SELECT 1 FROM events x
        WHERE x.user_id = e.user_id AND x.event_type = t.event_type))
    GROUP BY e.user_id
    """,
    doc="Relational division (the 'for all' query): users who have "
        "performed EVERY event type in the catalog. The Spark plan is "
        "the aggregation form — distinct (user, type) pairs counted per "
        "user and compared to the catalog size via a single-row "
        "broadcast — one shuffle instead of the oracle's nested "
        "double-NOT-EXISTS, which Catalyst would otherwise decorrelate "
        "into two anti-joins.",
    tags=("agg", "subquery", "division"),
)
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    n_types = ev.select("event_type").distinct().agg(
        F.count(F.lit(1)).alias("k")
    )
    per_user = ev.select("user_id", "event_type").distinct().groupBy(
        "user_id"
    ).agg(F.count(F.lit(1)).alias("n_types"))
    complete = (
        per_user.crossJoin(F.broadcast(n_types))
        .filter(F.col("n_types") == F.col("k"))
        .select("user_id")
    )
    return (
        ev.join(complete, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


@register(
    "q_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS m
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           MIN(m.m) AS median_value,
           median(abs(e.value - m.m)) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
    doc="Median absolute deviation per group — the robust spread "
        "statistic (breakdown point 50% vs 0% for stddev): group "
        "medians from one exact-percentile aggregate broadcast back "
        "onto the stream, then a second percentile over the absolute "
        "deviations. Two aggregation passes by construction (an order "
        "statistic of a function of an order statistic cannot "
        "one-pass); both reuse the event_type partitioning. "
        "percentile/median parity across engines is already pinned by "
        "q_percentiles.",
    tags=("agg", "percentile", "robust"),
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("m"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("m").alias("median_value"),
            F.median(F.abs(F.col("value") - F.col("m"))).alias("mad"),
        )
    )


@register(
    "q_xml_roundtrip",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_v} AS sum_value,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events WHERE event_id < 2000 GROUP BY event_type
    """.format(dsum_v=sql_dsum("value")),
    doc="XML data-source roundtrip (Spark 4 NATIVE XML, the Databricks "
        "spark-xml donation — no external package): an events slice "
        "written as element-per-row XML (rowTag) and read back with "
        "schema inference, then aggregated — ids, types, and decimal-"
        "summed values survive the text format exactly, so the "
        "parquet-sourced oracle matches bit-for-bit. Completes the "
        "format matrix alongside CSV / JSONL / ORC / parquet / raw "
        "text: the last ingestion format an integration engine meets "
        "in the wild. Timestamps are serialized as ISO strings for the "
        "roundtrip; the aggregate reads only the typed columns.",
    tags=("source", "xml"),
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "event_type", "value")
    )
    with tempfile.TemporaryDirectory(
        prefix="xml_rt_", ignore_cleanup_errors=True
    ) as d:
        ev.write.format("xml").option("rootTag", "events").option(
            "rowTag", "event"
        ).mode("overwrite").save(d)
        back = spark.read.format("xml").option("rowTag", "event").load(d)
        return (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                dsum(F.col("value"))
                .alias("sum_value"),
                F.min("event_id").cast("bigint").alias("min_id"),
                F.max("event_id").cast("bigint").alias("max_id"),
            )
            .localCheckpoint(eager=True)
        )
