"""Data-profiling query surface.

The reference's only metadata operation is all-string schema inference
(CSVProvider.cs:281-315); a data-integration engine also needs column
profiling to validate feeds before loading. One Spark job profiles every
requested column: a single wide aggregate computes per-column null and
distinct counts (Catalyst plans multi-distinct via Expand — one pass over
the data, partial aggregation map-side), then ``stack`` pivots the
metrics into one row per column. No per-column jobs, no collect loop —
profiling 100 TB costs one scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from .registry import davg, dsum12, register, sql_davg, sql_dsum12


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per column: total rows, nulls, null ratio, distinct count
    (exact). Single aggregate job regardless of column count."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nulls_{i}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{i}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nulls_{i}, __nd_{i}" for i, c in enumerate(cols)
    )
    tall = wide.select(
        F.col("__n"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct)"
        ),
    )
    return tall.select(
        "col_name",
        F.col("__n").cast("bigint").alias("n_rows"),
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        (F.col("n_nulls") / F.col("__n")).cast("double").alias("null_ratio"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )


_PROFILE_COLS = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount"]


def _oracle_for(cols: list[str]) -> str:
    parts = [
        f"""
        SELECT '{c}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST((COUNT(*) - COUNT({c})) AS DOUBLE) / COUNT(*)
                 AS null_ratio,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM lineitem
        """
        for c in cols
    ]
    return " UNION ALL ".join(parts)


@register(
    "q_profile_table",
    oracle=_oracle_for(_PROFILE_COLS),
    doc="Per-column profiling (rows/nulls/null-ratio/exact distinct) in "
        "ONE aggregate job over all columns — Catalyst's Expand-based "
        "multi-distinct keeps it a single scan at any table size.",
    tags=("profiling", "agg"),
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_columns(
        load_table(spark, sf_dir, "lineitem"), _PROFILE_COLS
    )


@register(
    "q_fuzzy_match",
    oracle="""
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 400)
    SELECT a.c_custkey AS a, b.c_custkey AS b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
    doc="Fuzzy record matching: customer-name pairs within edit distance "
        "2. The length-difference prune is the standard lossless filter "
        "(|len(a)-len(b)| <= k bounds the distance from below), applied "
        "inside the self-join condition so most pairs never reach the "
        "O(len^2) levenshtein kernel — the same blocking discipline a "
        "100 TB entity-resolution pass needs (there, a proper blocking "
        "key replaces the residual O(n^2) pair space).",
    tags=("text", "fuzzy", "join"),
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 400
    ).select("c_custkey", "c_name")
    a = cust.select(F.col("c_custkey").alias("a"), F.col("c_name").alias("na"))
    b = cust.select(F.col("c_custkey").alias("b"), F.col("c_name").alias("nb"))
    dist = F.levenshtein(F.col("na"), F.col("nb"))
    return (
        a.join(
            b,
            (F.col("a") < F.col("b"))
            & (F.abs(F.length("na") - F.length("nb")) <= 1)
            & (dist <= 2),
        )
        .select("a", "b", dist.cast("int").alias("dist"))
    )


@register(
    "q_constraint_audit",
    oracle="""
    SELECT 'customer.acctbal_negative' AS check_name,
           CAST((SELECT COUNT(*) FROM customer WHERE c_acctbal < 0)
                AS BIGINT) AS violations
    UNION ALL
    SELECT 'events.value_null',
           CAST((SELECT COUNT(*) FROM events WHERE value IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.qty_positive',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'orders.pk_unique',
           CAST((SELECT COALESCE(SUM(cnt - 1), 0) FROM
                 (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
                 WHERE cnt > 1) AS BIGINT)
    UNION ALL
    SELECT 'orders.status_domain',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
    ORDER BY check_name
    """,
    doc="Declarative constraint audit (dbt-test style): primary-key "
        "uniqueness, referential integrity, domain, range and null "
        "checks evaluated as one summary table. Each check is a "
        "partial-aggregating scan or anti-join — no row-level data "
        "movement — so auditing 100 TB costs one pass per fact table; "
        "non-zero rows (negative balances exist in the fixture) prove "
        "the counts are live.",
    tags=("profiling", "quality", "agg"),
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.coalesce(F.first("violations"), F.lit(0))
            .cast("bigint")
            .alias("violations"),
        )

    checks = [
        one(
            "customer.acctbal_negative",
            cust.filter(F.col("c_acctbal") < 0).agg(
                F.count(F.lit(1)).alias("violations")
            ),
        ),
        one(
            "events.value_null",
            events.filter(F.col("value").isNull()).agg(
                F.count(F.lit(1)).alias("violations")
            ),
        ),
        one(
            "lineitem.fk_orders",
            li.join(
                orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("violations")),
        ),
        one(
            "lineitem.qty_positive",
            li.filter(F.col("l_quantity") <= 0).agg(
                F.count(F.lit(1)).alias("violations")
            ),
        ),
        one(
            "orders.pk_unique",
            orders.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") > 1)
            .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("violations")),
        ),
        one(
            "orders.status_domain",
            orders.filter(~F.col("o_orderstatus").isin("F", "O", "P")).agg(
                F.count(F.lit(1)).alias("violations")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


@register(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE c AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 400
    ), pairs AS (
      SELECT a.c_custkey AS a, b.c_custkey AS b
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        AND levenshtein(a.c_name, b.c_name) <= 1
    ), und AS (
      SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs
    ), reach(u, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und) t
      UNION
      SELECT und.u, reach.lbl FROM und JOIN reach ON und.v = reach.u
    ), comp AS (
      SELECT u AS c_custkey, MIN(lbl) AS cluster FROM reach GROUP BY u
    ), labeled AS (
      SELECT c.c_custkey, c.c_name, c.c_acctbal,
             COALESCE(k.cluster, c.c_custkey) AS cluster
      FROM c LEFT JOIN comp k USING (c_custkey)
    )
    SELECT c_custkey, cluster,
           FIRST(c_custkey) OVER (PARTITION BY cluster
                                  ORDER BY c_acctbal DESC, c_custkey)
             AS canonical_key,
           FIRST(c_name) OVER (PARTITION BY cluster
                               ORDER BY c_acctbal DESC, c_custkey)
             AS canonical_name
    FROM labeled
    """,
    doc="End-to-end entity resolution composed from the engine's own "
        "operators: length-pruned edit-distance pairs (blocking + "
        "match), large-star/small-star connected components (cluster), "
        "and a deterministic survivorship rule (highest account "
        "balance, key as tiebreak) electing each cluster's canonical "
        "record. The oracle replays all three stages in SQL, closure "
        "via recursive CTE.",
    tags=("text", "fuzzy", "graph", "cdc"),
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..operators.components import connected_components

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 400)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    a = cust.select(F.col("c_custkey").alias("a"), F.col("c_name").alias("na"))
    b = cust.select(F.col("c_custkey").alias("b"), F.col("c_name").alias("nb"))
    pairs = a.join(
        b,
        (F.col("a") < F.col("b"))
        & (F.abs(F.length("na") - F.length("nb")) <= 1)
        & (F.levenshtein(F.col("na"), F.col("nb")) <= 1),
    ).select("a", "b")
    comp = connected_components(pairs, src="a", dst="b")
    labeled = (
        cust.join(comp, F.col("c_custkey") == F.col("node"), "left")
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.coalesce("component", "c_custkey").alias("cluster"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return labeled.select(
        "c_custkey",
        "cluster",
        F.first("c_custkey").over(w).alias("canonical_key"),
        F.first("c_name").over(w).alias("canonical_name"),
    )


@register(
    "q_corpus_datacard",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             md5(text) AS sig
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n_all FROM t)
    SELECT COALESCE(lang, 'ALL') AS slice,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT sig) AS BIGINT) AS n_distinct_texts,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {davg_t} AS avg_doc_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n_all FROM tot)
             AS corpus_frac
    FROM t GROUP BY GROUPING SETS ((lang), ())
    """.format(davg_t=sql_davg("n_tokens")),
    doc="The corpus datacard — the per-slice summary every dataset "
        "datasheet publishes (docs, distinct texts = trivial-dup "
        "signal, sources, token/char volume, doc-length profile, "
        "corpus fraction), per language plus an ALL row, in ONE scan "
        "via GROUPING SETS (Spark rollup — the partial aggregates are "
        "shared, not re-scanned per slice). count_distinct over md5 "
        "text signatures keeps the distinct-dup check narrow: the "
        "shuffle carries 32-byte digests, never document bodies.",
    tags=("profiling", "text", "agg"),
)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(
            F.filter(F.split("text", " "), lambda w: w != F.lit(""))
        ).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("sig"),
    )
    n_all = docs.count()
    return (
        t.rollup("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("sig").cast("bigint").alias("n_distinct_texts"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            davg(F.col("n_tokens")).alias("avg_doc_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_doc_tokens"),
            (F.count(F.lit(1)).cast("double") / F.lit(float(n_all))).alias(
                "corpus_frac"
            ),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("slice"),
            "n_docs",
            "n_distinct_texts",
            "n_sources",
            "total_tokens",
            "total_chars",
            "avg_doc_tokens",
            "max_doc_tokens",
            "corpus_frac",
        )
    )


@register(
    "q_drift_ks",
    oracle="""
    WITH u AS (
      SELECT value AS v, 1 AS ca, 0 AS cb FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT value, 0, 1 FROM events WHERE event_id % 2 = 1
    ), pts AS (
      SELECT v, SUM(ca) AS ca, SUM(cb) AS cb FROM u GROUP BY v
    ), c AS (
      SELECT SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM pts
    ), t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(cb) AS BIGINT) AS n_b
      FROM pts
    )
    SELECT MAX(abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                   - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
             AS ks_stat,
           MAX(n_a) AS n_a,
           MAX(n_b) AS n_b
    FROM c, t
    """,
    doc="Two-sample Kolmogorov-Smirnov drift statistic between the "
        "even- and odd-event_id halves of the events value column "
        "(operators/scale.py ks_two_sample) — the rank-based companion "
        "to q_drift_tvd, no binning choice. Both empirical CDFs ride "
        "ONE shared multi-value distributed prefix sum (the oracle's "
        "single-partition window is the semantic spec, not the plan); "
        "the statistic is IEEE arithmetic over exact integer cumulative "
        "counts — engine-exact.",
    tags=("profiling", "drift", "mlprep"),
)
def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import ks_two_sample

    ev = load_table(spark, sf_dir, "events")
    return ks_two_sample(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
    )


@register(
    "q_drift_chi2",
    oracle="""
    WITH a AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS term
            FROM documents WHERE source = 'src1')
      GROUP BY term),
    b AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS term
            FROM documents WHERE source = 'src2')
      GROUP BY term),
    j AS (
      SELECT COALESCE(a.term, b.term) AS term,
             COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
      FROM a FULL OUTER JOIN b ON a.term = b.term),
    tot AS (
      SELECT CAST(SUM(ca) AS DOUBLE) AS n1, CAST(SUM(cb) AS DOUBLE) AS n2,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM j),
    contrib AS (
      SELECT ((CAST(ca AS DOUBLE) + 0.5) / (n1 + 0.5 * v)
              - (CAST(cb AS DOUBLE) + 0.5) / (n2 + 0.5 * v))
             * ((CAST(ca AS DOUBLE) + 0.5) / (n1 + 0.5 * v)
                - (CAST(cb AS DOUBLE) + 0.5) / (n2 + 0.5 * v))
             / ((CAST(cb AS DOUBLE) + 0.5) / (n2 + 0.5 * v)) AS x
      FROM j, tot)
    SELECT CAST(v AS BIGINT) AS n_terms, CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           round({d}, 9)
             AS chi2
    FROM contrib, tot GROUP BY v, n1, n2
    """.format(d=sql_dsum12("x")),
    doc="Chi-square drift between the word distributions of two corpus "
        "slices (source src1 observed vs src2 reference), additive-0.5 "
        "smoothing over the union vocabulary — the RATIONAL member of "
        "the drift family (q_drift_tvd: L1; q_drift_ks: sup-CDF; this: "
        "variance-weighted L2), no logarithm anywhere so every term "
        "contribution is the same IEEE double on both engines; the sum "
        "folds through DECIMAL(28,12) (order-independent) and reports "
        "at 9 decimals. Two map-side-combinable term counts, one "
        "term-keyed full outer join, a 1-row totals broadcast: the "
        "same shape at any vocabulary size.",
    tags=("profiling", "drift", "text"),
)
def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chi2_drift_docs(load_table(spark, sf_dir, "documents"))


def chi2_drift_docs(
    docs: DataFrame, src_a: str = "src1", src_b: str = "src2"
) -> DataFrame:
    """Core of q_drift_chi2 over an in-memory documents frame — also
    exercised by the scale probe (tools/scale_probe.py, retrieval
    family)."""

    def _counts(src: str) -> DataFrame:
        return (
            docs.filter(F.col("source") == src)
            .select(
                F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                    "term"
                )
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    a = _counts(src_a).select("term", F.col("c").alias("ca"))
    b = _counts(src_b).select("term", F.col("c").alias("cb"))
    j = a.join(b, "term", "full_outer").select(
        "term",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tot = j.agg(
        F.sum("ca").cast("double").alias("n1"),
        F.sum("cb").cast("double").alias("n2"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    p = (F.col("ca").cast("double") + F.lit(0.5)) / (
        F.col("n1") + F.lit(0.5) * F.col("v")
    )
    q = (F.col("cb").cast("double") + F.lit(0.5)) / (
        F.col("n2") + F.lit(0.5) * F.col("v")
    )
    contrib = j.crossJoin(F.broadcast(tot)).select(
        "n1", "n2", "v", (((p - q) * (p - q)) / q).alias("x")
    )
    return contrib.groupBy("v", "n1", "n2").agg(
        F.round(
            dsum12(F.col("x")), 9
        ).alias("chi2")
    ).select(
        F.col("v").cast("bigint").alias("n_terms"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        "chi2",
    )


#: count-min sketch geometry + Knuth-style arithmetic hash constants —
#: pure integer arithmetic so BOTH engines can replay the sketch exactly
#: (xxhash64 has no DuckDB twin; these do)
_CMS_P = 2147483647  # 2^31 - 1, prime
_CMS_W = 64
_CMS_ROWS = ((2654435761, 1), (2246822519, 7), (3266489917, 31),
             (668265263, 127))
#: the sketch rows as (row index, multiplier, offset)
_CMS_SEEDS = tuple((i, a, b) for i, (a, b) in enumerate(_CMS_ROWS))


def _cms_bucket(x, a: int, b: int):
    """Count-min cell of ``x`` in one sketch row: ``((x*a + b) mod P) mod
    W``. decimal(20,0) x decimal(10,0) keeps the multiply exact far past
    the bigint-overflow point (same convention as negative_samples)."""
    return F.pmod(
        F.pmod(
            x.cast("decimal(20,0)") * F.lit(a).cast("decimal(10,0)")
            + F.lit(b).cast("decimal(10,0)"),
            F.lit(_CMS_P).cast("decimal(20,0)"),
        ).cast("bigint"),
        F.lit(_CMS_W),
    )


def _cms_cells(df: DataFrame, *keep: str) -> DataFrame:
    """One row per row of ``df`` and sketch row: the ``keep`` columns,
    the sketch row ``i`` and the ``bucket`` its ``user_id`` hashes to."""
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _cms_bucket(F.col("user_id"), a, b).alias("bucket"),
                )
                for i, a, b in _CMS_SEEDS
            ]
        )
    ).alias("h")
    return df.select(*keep, cells).select(*keep, "h.i", "h.bucket")


@register(
    "q_countmin_sketch",
    oracle="""
    WITH seeds(i, a, b) AS (
      VALUES (0, 2654435761, 1), (1, 2246822519, 7),
             (2, 3266489917, 31), (3, 668265263, 127)
    ), hashed AS (
      SELECT e.user_id, s.i,
             CAST(((CAST(e.user_id AS HUGEINT) * s.a + s.b) % 2147483647)
                  % 64 AS BIGINT) AS bucket
      FROM events e CROSS JOIN seeds s
    ), sketch AS (
      SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM hashed GROUP BY i, bucket
    ), truth AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM events GROUP BY user_id
    ), probes AS (
      SELECT t.user_id, t.true_n, s.i,
             CAST(((CAST(t.user_id AS HUGEINT) * sd.a + sd.b)
                   % 2147483647) % 64 AS BIGINT) AS bucket
      FROM truth t CROSS JOIN seeds sd
      JOIN seeds s ON s.i = sd.i
    ), est AS (
      SELECT p.user_id, p.true_n, MIN(sk.c) AS est
      FROM probes p JOIN sketch sk
        ON sk.i = p.i AND sk.bucket = p.bucket
      GROUP BY p.user_id, p.true_n
    )
    SELECT user_id, true_n, est, TRUE AS over_ok
    FROM est WHERE user_id < 50
    """,
    doc="Count-min sketch (Cormode-Muthukrishnan) over the events "
        "user_id stream: 4x64 counter matrix under Knuth-multiplicative "
        "arithmetic hashes mod (2^31-1) — PURE integer arithmetic, so "
        "unlike the xxhash64-based sketches the entire sketch AND every "
        "point estimate are replayed exactly by the oracle (est is "
        "VALUE-checked, not bounded). over_ok pins the one-sided error "
        "law est >= true that defines CMS. Scale shape: the sketch is "
        "one (row, bucket) count with map-side combine — 256 cells "
        "regardless of stream size, mergeable across "
        "partitions/streams by cell-wise addition (the reason CMS "
        "exists); point queries broadcast the 256-row sketch. The "
        "probe set is capped at user_id < 50 for the fixture.",
    tags=("profiling", "sketch", "frequency"),
)
def q_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = _cms_cells(ev).groupBy("i", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    truth = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    probes = _cms_cells(
        truth.filter(F.col("user_id") < 50), "user_id", "true_n"
    )
    est = (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("c").alias("est"))
    )
    return est.select(
        "user_id", "true_n", "est",
        (F.col("est") >= F.col("true_n")).alias("over_ok"),
    )


#: probe points for the quantile-sketch gates; rank error gated at
#: _MRL_EPS (measured max 0.0054 over 1/8/32/100-way splits of 600k
#: lognormal values, and <= 0.004 on the lineitem fixture — 10x margin)
_MRL_PROBES = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
_MRL_EPS = 0.05


def _mrl_rank_audit(
    values: DataFrame, levels, probes=_MRL_PROBES, eps: float = _MRL_EPS
) -> DataFrame:
    """Shared gate body for the quantile-sketch twins: one aggregate
    over the raw values computes n and, per probe, the rank window of
    the sketch's estimate; emits (q, n, weight_ok, rank_ok) rows.
    ``weight_ok`` pins the sketch's EXACT represented weight against
    the true row count — the conservation law that makes the sketch
    mergeable — and the oracle pins n via COUNT(*), so an emptied or
    double-counted sketch fails the hash, never passes vacuously."""
    from ..operators.sketches import mrl_quantiles, mrl_total_weight

    w = mrl_total_weight(levels)
    ests = mrl_quantiles(levels, list(probes))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i, (_, est) in enumerate(ests):
        aggs.append(
            F.sum((F.col("value") <= est).cast("bigint")).alias(f"le{i}")
        )
        aggs.append(
            F.sum((F.col("value") < est).cast("bigint")).alias(f"lt{i}")
        )
    stats = values.agg(*aggs)
    rows = []
    for i, (q, _) in enumerate(ests):
        rows.append(
            F.struct(
                F.lit(float(q)).alias("q"),
                F.col("n").alias("n"),
                (F.lit(w) == F.col("n")).alias("weight_ok"),
                (
                    (F.col(f"le{i}") >= (F.lit(q) - eps) * F.col("n"))
                    & (F.col(f"lt{i}") <= (F.lit(q) + eps) * F.col("n"))
                ).alias("rank_ok"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("g")).select(
        "g.q", "g.n", "g.weight_ok", "g.rank_ok"
    )


@register(
    "q_quantile_sketch",
    # the sketch's internal items depend on the partition split (true of
    # every mergeable summary), so the oracle pins the two facts that
    # do NOT: total represented weight == COUNT(*) exactly (collapse
    # conservation — a TRUE cross-engine count check), and each probe
    # estimate's exact rank within eps=0.05 of its target (deterministic
    # worst-case bound; measured <= 0.006 across 1-100-way splits).
    oracle="""
    SELECT CAST(q AS DOUBLE) AS q,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n,
           TRUE AS weight_ok, TRUE AS rank_ok
    FROM (VALUES (0.01), (0.05), (0.25), (0.5), (0.75), (0.95), (0.99))
         t(q)
    """,
    doc="Mergeable quantile sketch (deterministic MRL collapse summary, "
        "operators/sketches.py) over lineitem l_extendedprice: "
        "per-partition sketches built in one mapInPandas pass "
        "(O(k log n) memory, k=256), tree-merged fan-in-16 then 1 — the "
        "same merge a 1000-shard corpus or a restart-and-re-add stream "
        "would use. Completes the mergeable-sketch family "
        "(count-min/HLL/bitmap/Bloom) with the quantile member that "
        "GK/approx_percentile lacks: GK summaries don't merge; this one "
        "is CLOSED under merge with exact weight conservation. Gate: "
        "weight == n exactly, rank error <= 0.05 at 7 probes.",
    tags=("profiling", "sketch", "quantile"),
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import collect_sketch, quantile_sketch_rows

    li = load_table(spark, sf_dir, "lineitem")
    values = li.select(
        F.col("l_extendedprice").cast("double").alias("value")
    )
    levels = collect_sketch(quantile_sketch_rows(li, "l_extendedprice"))
    return _mrl_rank_audit(values, levels)


@register(
    "q_quantile_sketch_grouped",
    # per-group twin of q_quantile_sketch: every group's weight is a
    # TRUE cross-engine COUNT pin (per-group conservation), rank error
    # gated per (group, probe) — one build pass over the data, never a
    # per-group job loop.
    oracle="""
    SELECT g.l_returnflag AS grp, CAST(t.q AS DOUBLE) AS q, g.n,
           TRUE AS weight_ok, TRUE AS rank_ok
    FROM (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
          FROM lineitem GROUP BY l_returnflag) g
    CROSS JOIN (VALUES (0.01), (0.05), (0.25), (0.5), (0.75), (0.95),
                       (0.99)) t(q)
    """,
    doc="GROUPED mergeable quantile sketches (operators/sketches.py "
        "grouped_quantile_sketch_rows) over lineitem l_extendedprice "
        "per l_returnflag — the datacard shape: one mapInPandas pass "
        "gives every domain its own percentile summary, tree-merged "
        "per (group, fan-in bucket) so each group pays merge work "
        "proportional to its size. Gate per group: represented weight "
        "== per-group COUNT(*) exactly (cross-engine pin) and rank "
        "error <= 0.05 at 7 probes, audited in ONE wide conditional "
        "aggregate over the raw data (no per-group jobs).",
    tags=("profiling", "sketch", "quantile", "grouped"),
)
def q_quantile_sketch_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        collect_grouped_sketch,
        grouped_quantile_sketch_rows,
        mrl_quantiles,
        mrl_total_weight,
    )

    li = load_table(spark, sf_dir, "lineitem")
    values = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").cast("double").alias("value"),
    )
    sketches = collect_grouped_sketch(
        grouped_quantile_sketch_rows(li, "l_returnflag", "l_extendedprice")
    )
    probes = list(_MRL_PROBES)
    # one wide conditional aggregate: per (group, probe) le/lt counts
    aggs = []
    meta = []  # (grp, q, weight)
    for gk in sorted(sketches):
        levels = sketches[gk]
        w = mrl_total_weight(levels)
        i0 = len(meta)
        aggs.append(
            F.sum((F.col("grp") == gk).cast("bigint")).alias(f"n_{i0}")
        )
        for q, est in mrl_quantiles(levels, probes):
            i = len(meta)
            cond = F.col("grp") == gk
            aggs.append(
                F.sum(
                    (cond & (F.col("value") <= est)).cast("bigint")
                ).alias(f"le{i}")
            )
            aggs.append(
                F.sum(
                    (cond & (F.col("value") < est)).cast("bigint")
                ).alias(f"lt{i}")
            )
            meta.append((gk, q, w, i0))
    stats = values.agg(*aggs)
    rows = []
    for i, (gk, q, w, i0) in enumerate(meta):
        n = F.col(f"n_{i0}")
        rows.append(
            F.struct(
                F.lit(gk).alias("grp"),
                F.lit(float(q)).alias("q"),
                n.cast("bigint").alias("n"),
                (F.lit(w) == n).alias("weight_ok"),
                (
                    (F.col(f"le{i}") >= (F.lit(q) - _MRL_EPS) * n)
                    & (F.col(f"lt{i}") <= (F.lit(q) + _MRL_EPS) * n)
                ).alias("rank_ok"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("g")).select(
        "g.grp", "g.q", "g.n", "g.weight_ok", "g.rank_ok"
    )


@register(
    "q_kmv_sketch",
    # KMV/theta sketch under the CMS arithmetic-hash convention: the
    # sketch, the merge, and EVERY estimate are value-replayed by the
    # oracle (the q_countmin_sketch check class, not a gate). The
    # union row exercises the lossless merge law (k smallest of the
    # two k-sets == k smallest of the full hash union); the intersect
    # row is the capability HLL lacks — join-size estimation: how many
    # BUILDING customers ever ordered, estimated from two 64-value
    # sketches instead of a join; a_not_b completes the theta set
    # algebra (customers who ordered but are not BUILDING).
    oracle="""
    WITH ak AS (SELECT DISTINCT o_custkey AS key FROM orders
                WHERE o_custkey IS NOT NULL),
    bk AS (SELECT DISTINCT c_custkey AS key FROM customer
           WHERE c_mktsegment = 'BUILDING' AND c_custkey IS NOT NULL),
    ah AS (SELECT DISTINCT CAST((CAST(key AS HUGEINT) * 2654435761 + 1)
                                % 2147483647 AS BIGINT) AS h FROM ak),
    bh AS (SELECT DISTINCT CAST((CAST(key AS HUGEINT) * 2654435761 + 1)
                                % 2147483647 AS BIGINT) AS h FROM bk),
    uh AS (SELECT h FROM ah UNION SELECT h FROM bh),
    sa AS (SELECT h FROM ah ORDER BY h LIMIT 64),
    sb AS (SELECT h FROM bh ORDER BY h LIMIT 64),
    su AS (SELECT h FROM uh ORDER BY h LIMIT 64),
    ca AS (SELECT COUNT(*) AS n FROM ah),
    cb AS (SELECT COUNT(*) AS n FROM bh),
    cu AS (SELECT COUNT(*) AS n FROM uh),
    ta AS (SELECT CASE WHEN (SELECT n FROM ca) >= 64
                       THEN (SELECT MAX(h) FROM sa)
                       ELSE 2147483647 END AS th),
    tb AS (SELECT CASE WHEN (SELECT n FROM cb) >= 64
                       THEN (SELECT MAX(h) FROM sb)
                       ELSE 2147483647 END AS th),
    ti AS (SELECT LEAST((SELECT th FROM ta), (SELECT th FROM tb)) AS th),
    ic AS (SELECT COUNT(*) AS c FROM sa JOIN sb USING (h)
           WHERE h < (SELECT th FROM ti)),
    ea AS (SELECT COUNT(*) AS n FROM ak),
    eb AS (SELECT COUNT(*) AS n FROM bk),
    eu AS (SELECT COUNT(DISTINCT key) AS n FROM
           (SELECT key FROM ak UNION ALL SELECT key FROM bk)),
    ei AS (SELECT COUNT(*) AS n FROM ak JOIN bk USING (key)),
    dc AS (SELECT COUNT(*) AS c FROM sa
           WHERE h < (SELECT th FROM ti)
             AND h NOT IN (SELECT h FROM sb))
    SELECT 'a_not_b' AS scope,
           CAST((SELECT n FROM ea) - (SELECT n FROM ei) AS BIGINT)
             AS exact_distinct,
           ROUND(CAST((SELECT c FROM dc) AS DOUBLE) * 2147483647
                 / (SELECT th FROM ti), 9) AS est
    UNION ALL
    SELECT 'building' AS scope,
           CAST((SELECT n FROM eb) AS BIGINT) AS exact_distinct,
           ROUND(CASE WHEN (SELECT n FROM cb) < 64
                 THEN CAST((SELECT n FROM cb) AS DOUBLE)
                 ELSE 63.0 * 2147483647 / (SELECT MAX(h) FROM sb) END, 9)
             AS est
    UNION ALL
    SELECT 'intersect', CAST((SELECT n FROM ei) AS BIGINT),
           ROUND(CAST((SELECT c FROM ic) AS DOUBLE) * 2147483647
                 / (SELECT th FROM ti), 9)
    UNION ALL
    SELECT 'orders', CAST((SELECT n FROM ea) AS BIGINT),
           ROUND(CASE WHEN (SELECT n FROM ca) < 64
                 THEN CAST((SELECT n FROM ca) AS DOUBLE)
                 ELSE 63.0 * 2147483647 / (SELECT MAX(h) FROM sa) END, 9)
    UNION ALL
    SELECT 'union', CAST((SELECT n FROM eu) AS BIGINT),
           ROUND(CASE WHEN (SELECT n FROM cu) < 64
                 THEN CAST((SELECT n FROM cu) AS DOUBLE)
                 ELSE 63.0 * 2147483647 / (SELECT MAX(h) FROM su) END, 9)
    """,
    doc="KMV/theta sketch (operators/sketches.py, k=64, Knuth "
        "arithmetic hash mod 2^31-1): distinct-count estimates for the "
        "ordering custkeys, the BUILDING custkeys, their UNION (built "
        "by the lossless sketch merge, never re-hashing the data) and "
        "their INTERSECTION (theta overlap below the common threshold "
        "— join-size estimation from two 64-value artifacts). Exact "
        "distinct counts emitted alongside; every estimate is an "
        "integer ratio both engines compute bit-identically. Scale "
        "shape: per-side work is one distinct-hash shuffle + a "
        "TakeOrdered top-k; set operations touch only the k-row "
        "sketches.",
    tags=("profiling", "sketch", "distinct", "cardinality"),
)
def q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        KMV_K,
        KMV_P,
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_merge,
        kmv_sketch,
        kmv_theta,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # null keys are excluded from sketch AND exact counts on BOTH
    # engines — the convention kmv_sketch's h-filter implies, pinned
    # explicitly so a null-key fixture can't split the engines
    ak = orders.select(F.col("o_custkey").alias("key")).filter(
        F.col("key").isNotNull()
    ).distinct()
    bk = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    ).filter(F.col("key").isNotNull()).distinct()
    sa = kmv_sketch(ak, "key")
    sb = kmv_sketch(bk, "key")
    su = kmv_merge([sa, sb])
    ea = ak.count()
    eb = bk.count()
    eu = ak.union(bk).distinct().count()
    ei = ak.join(bk, "key").count()

    def frac(sketch: tuple[list[int], int]) -> tuple[float, int]:
        vals, n = sketch
        if n < KMV_K:
            return float(n), 1
        return 63.0 * KMV_P, vals[KMV_K - 1]

    theta_i = min(kmv_theta(*sa), kmv_theta(*sb))
    common = sum(1 for h in set(sa[0]) & set(sb[0]) if h < theta_i)
    only_a = sum(1 for h in set(sa[0]) - set(sb[0]) if h < theta_i)
    rows = [
        ("a_not_b", ea - ei, float(only_a) * KMV_P, theta_i),
        ("building", eb, *frac(sb)),
        ("intersect", ei, float(common) * KMV_P, theta_i),
        ("orders", ea, *frac(sa)),
        ("union", eu, *frac(su)),
    ]
    # sanity: the python estimators agree with the emitted fractions
    from ..operators.sketches import kmv_difference_estimate

    assert kmv_estimate(*sa) == rows[3][2] / rows[3][3]
    assert kmv_intersect_estimate(sa, sb) == rows[2][2] / rows[2][3]
    assert kmv_difference_estimate(sa, sb) == rows[0][2] / rows[0][3]
    out = spark.createDataFrame(
        rows, "scope string, exact_distinct long, num double, den long"
    )
    return out.select(
        "scope",
        "exact_distinct",
        F.round(F.col("num") / F.col("den"), 9).alias("est"),
    )


@register(
    "q_kmv_grouped",
    # the datacard form of the theta sketch (round 9): every language
    # gets its own KMV vocabulary sketch from ONE pass, and the
    # pairwise overlap/containment matrix a mixture designer reads
    # ("how much of de's vocabulary also appears in en?") falls out of
    # the 64-value artifacts alone. The word key is the md5-derived
    # 31-bit hash (bit-identical in DuckDB), the sketch hash the Knuth
    # arithmetic family — so sketches, thetas, every estimate AND both
    # containment ratios are value-replayed by the oracle, alongside
    # exact distinct/overlap counts from the full key sets.
    oracle="""
    WITH wk AS MATERIALIZED (
      SELECT DISTINCT lang,
             CAST(CAST(concat('0x', substring(md5(word), 1, 16))
                       AS UBIGINT) % 2147483647 AS BIGINT) AS wk
      FROM (SELECT lang,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
            FROM documents
            WHERE text IS NOT NULL AND trim(text) <> ''
              AND lang IS NOT NULL)
      WHERE word <> ''
    ),
    h AS MATERIALIZED (
      SELECT DISTINCT lang,
             CAST((CAST(wk AS HUGEINT) * 2654435761 + 1) % 2147483647
                  AS BIGINT) AS h
      FROM wk
    ),
    cnt AS (SELECT lang, COUNT(*) AS n FROM h GROUP BY lang),
    topk AS (
      SELECT lang, h FROM (
        SELECT lang, h,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
        FROM h) t
      WHERE rn <= 64
    ),
    est AS (
      SELECT c.lang, c.n,
             CASE WHEN c.n >= 64 THEN m.h64 ELSE 2147483647 END AS theta,
             CASE WHEN c.n < 64 THEN CAST(c.n AS DOUBLE)
                  ELSE 63.0 * 2147483647 / m.h64 END AS est
      FROM cnt c JOIN (SELECT lang, MAX(h) AS h64 FROM topk
                       GROUP BY lang) m USING (lang)
    ),
    exl AS (SELECT lang, COUNT(*) AS n FROM wk GROUP BY lang),
    pairs AS (
      SELECT a.lang AS la, b.lang AS lb,
             LEAST(a.theta, b.theta) AS theta,
             a.est AS est_a, b.est AS est_b
      FROM est a JOIN est b ON a.lang < b.lang
    ),
    common AS (
      SELECT p.la, p.lb, COUNT(*) AS c
      FROM pairs p
      JOIN topk ta ON ta.lang = p.la
      JOIN topk tb ON tb.lang = p.lb AND tb.h = ta.h
      WHERE ta.h < p.theta
      GROUP BY p.la, p.lb
    ),
    exi AS (
      SELECT x.lang AS la, y.lang AS lb, COUNT(*) AS n
      FROM wk x JOIN wk y ON x.wk = y.wk AND x.lang < y.lang
      GROUP BY 1, 2
    )
    SELECT e.lang AS scope, 'label' AS kind,
           CAST(x.n AS BIGINT) AS exact_distinct,
           ROUND(e.est, 9) AS est,
           CAST(NULL AS DOUBLE) AS cont_a, CAST(NULL AS DOUBLE) AS cont_b
    FROM est e JOIN exl x USING (lang)
    UNION ALL
    SELECT p.la || '|' || p.lb, 'overlap',
           CAST(COALESCE(x.n, 0) AS BIGINT),
           ROUND(CAST(COALESCE(c.c, 0) AS DOUBLE) * 2147483647 / p.theta,
                 9),
           ROUND((CAST(COALESCE(c.c, 0) AS DOUBLE) * 2147483647 / p.theta)
                 / p.est_a, 9),
           ROUND((CAST(COALESCE(c.c, 0) AS DOUBLE) * 2147483647 / p.theta)
                 / p.est_b, 9)
    FROM pairs p
    LEFT JOIN common c ON c.la = p.la AND c.lb = p.lb
    LEFT JOIN exi x ON x.la = p.la AND x.lb = p.lb
    """,
    doc="GROUPED KMV/theta datacard (operators/sketches.py "
        "grouped_kmv_sketch_rows): per-language vocabulary sketches — "
        "one distinct shuffle, then two bounded k-smallest phases, no "
        "per-group global sort — plus the full pairwise matrix: "
        "distinct-vocabulary estimate per language, overlap estimate "
        "and both containment directions per language pair, every one "
        "computed from the 64-value artifacts and value-replayed by "
        "the oracle next to the exact counts. The composition the "
        "single-scope q_kmv_sketch builds toward: a mixture designer's "
        "domain-overlap table at 100 TB costs one pass + k rows per "
        "group.",
    tags=("profiling", "sketch", "distinct", "cardinality", "datacard"),
)
def q_kmv_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        KMV_K,
        KMV_P,
        collect_grouped_kmv,
        grouped_kmv_sketch_rows,
        kmv_theta,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(
        (F.col("word") != "")
        & F.col("lang").isNotNull()
        & F.col("text").isNotNull()
    )
    from ..operators.sketches import md5_hash31

    wk = words.select(
        "lang", md5_hash31("word").alias("wk")
    ).distinct()
    wk = wk.localCheckpoint(eager=True)  # sketches + exact counts share it

    sketches = collect_grouped_kmv(grouped_kmv_sketch_rows(wk, "lang", "wk"))
    exact_label = {
        r["lang"]: r["n"]
        for r in wk.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    exact_pair = {
        (r["la"], r["lb"]): r["n"]
        for r in (
            wk.select(F.col("lang").alias("la"), "wk")
            .join(wk.select(F.col("lang").alias("lb"), "wk"), "wk")
            .filter(F.col("la") < F.col("lb"))
            .groupBy("la", "lb")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }

    def est_nd(s: tuple[list[int], int]) -> tuple[float, int]:
        vals, n = s
        if n < KMV_K:
            return float(n), 1
        return 63.0 * KMV_P, vals[KMV_K - 1]

    rows = []
    labels = sorted(sketches)
    for g in labels:
        num, den = est_nd(sketches[g])
        rows.append(
            (g, "label", int(exact_label[g]), num, den, None, None, None,
             None)
        )
    for i, ga in enumerate(labels):
        for gb in labels[i + 1:]:
            sa, sb = sketches[ga], sketches[gb]
            theta = min(kmv_theta(*sa), kmv_theta(*sb))
            common = sum(1 for hh in set(sa[0]) & set(sb[0]) if hh < theta)
            a_num, a_den = est_nd(sa)
            b_num, b_den = est_nd(sb)
            rows.append(
                (
                    f"{ga}|{gb}",
                    "overlap",
                    int(exact_pair.get((ga, gb), 0)),
                    float(common) * KMV_P,
                    theta,
                    a_num,
                    a_den,
                    b_num,
                    b_den,
                )
            )
    out = spark.createDataFrame(
        rows,
        "scope string, kind string, exact_distinct long, num double, "
        "den long, a_num double, a_den long, b_num double, b_den long",
    )
    est = F.col("num") / F.col("den")
    return out.select(
        "scope",
        "kind",
        "exact_distinct",
        F.round(est, 9).alias("est"),
        F.round(est / (F.col("a_num") / F.col("a_den")), 9).alias("cont_a"),
        F.round(est / (F.col("b_num") / F.col("b_den")), 9).alias("cont_b"),
    )


@register(
    "q_corpus_datacard_full",
    # round 9: the one-stop mixture-designer table — the composition
    # the sketch family exists for. One row per language: exact doc
    # and token volume (cross-engine values), token-length percentile
    # gates from the grouped MRL sketch (weight == n_docs pinned, 0.05
    # rank law at p50/p95), and the vocabulary axis from the grouped
    # KMV — distinct-vocab estimate plus overlap-with-en and
    # containment-in-en, every estimate and ratio value-replayed by
    # the oracle under the md5-31/Knuth hash chain. Everything rides
    # TWO passes over the corpus (one for token counts + length
    # sketches, one word-explode for vocabulary) and bounded
    # artifacts; nothing driver-side scales with data.
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT doc_id, lang, text FROM documents
      WHERE lang IS NOT NULL AND text IS NOT NULL
    ),
    tk AS (SELECT lang,
                  len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS n_toks
           FROM base),
    ex AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_toks) AS BIGINT) AS total_tokens
           FROM tk GROUP BY lang),
    wk AS MATERIALIZED (
      SELECT DISTINCT lang,
             CAST(CAST(concat('0x', substring(md5(word), 1, 16))
                       AS UBIGINT) % 2147483647 AS BIGINT) AS wk
      FROM (SELECT lang,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
            FROM base)
      WHERE word <> ''
    ),
    h AS MATERIALIZED (
      SELECT DISTINCT lang,
             CAST((CAST(wk AS HUGEINT) * 2654435761 + 1) % 2147483647
                  AS BIGINT) AS h
      FROM wk),
    cnt AS (SELECT lang, COUNT(*) AS n FROM h GROUP BY lang),
    topk AS (SELECT lang, h FROM (
      SELECT lang, h,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM h) t WHERE rn <= 64),
    est AS (SELECT c.lang, c.n,
                   CASE WHEN c.n >= 64 THEN m.h64
                        ELSE 2147483647 END AS theta,
                   CASE WHEN c.n < 64 THEN CAST(c.n AS DOUBLE)
                        ELSE 63.0 * 2147483647 / m.h64 END AS est
            FROM cnt c JOIN (SELECT lang, MAX(h) AS h64 FROM topk
                             GROUP BY lang) m USING (lang)),
    exl AS (SELECT lang, COUNT(*) AS n FROM wk GROUP BY lang),
    en AS (SELECT theta FROM est WHERE lang = 'en'),
    ov AS (
      SELECT e.lang, LEAST(e.theta, (SELECT theta FROM en)) AS th,
             (SELECT COUNT(*) FROM topk ta JOIN topk tb ON ta.h = tb.h
              WHERE ta.lang = e.lang AND tb.lang = 'en'
                AND ta.h < LEAST(e.theta, (SELECT theta FROM en))) AS c
      FROM est e WHERE e.lang <> 'en')
    SELECT e.lang, ex.n_docs, ex.total_tokens,
           TRUE AS weight_ok, TRUE AS rank_ok_p50, TRUE AS rank_ok_p95,
           CAST(x.n AS BIGINT) AS vocab_exact,
           ROUND(e.est, 9) AS vocab_est,
           CASE WHEN e.lang = 'en' THEN NULL
                ELSE ROUND(CAST(o.c AS DOUBLE) * 2147483647 / o.th, 9)
           END AS en_overlap_est,
           CASE WHEN e.lang = 'en' THEN NULL
                ELSE ROUND((CAST(o.c AS DOUBLE) * 2147483647 / o.th)
                           / e.est, 9)
           END AS en_containment
    FROM est e
    JOIN ex USING (lang) JOIN exl x USING (lang)
    LEFT JOIN ov o ON o.lang = e.lang
    """,
    doc="FULL corpus datacard, one row per language: exact doc/token "
        "volume, grouped-MRL token-length percentile gates (weight == "
        "n_docs cross-engine, 0.05 rank law at p50/p95) and the "
        "grouped-KMV vocabulary axis (distinct estimate, overlap with "
        "en, containment in en — all value-replayed). The composition "
        "query the round-8/9 sketch family builds toward: a datasheet "
        "a mixture designer reads, priced at two corpus passes + "
        "bounded artifacts at any scale.",
    tags=("profiling", "sketch", "datacard", "pipeline"),
)
def q_corpus_datacard_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        KMV_K,
        KMV_P,
        collect_grouped_kmv,
        collect_grouped_sketch,
        grouped_kmv_sketch_rows,
        grouped_quantile_sketch_rows,
        kmv_theta,
        md5_hash31,
        mrl_quantiles,
        mrl_total_weight,
    )

    eps = 0.05
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    toks = docs.select(
        "lang",
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).cast("double").alias("n_toks"),
    )
    ex = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n_toks").cast("bigint")).cast("bigint").alias(
            "total_tokens"
        ),
    )
    # token-length percentile gates from the grouped MRL sketches
    sk = collect_grouped_sketch(
        grouped_quantile_sketch_rows(toks, "lang", "n_toks")
    )
    probe_rows = []
    for lang in sorted(sk):
        w = mrl_total_weight(sk[lang])
        for qq, est in mrl_quantiles(sk[lang], [0.5, 0.95]):
            probe_rows.append((lang, float(qq), float(est), int(w)))
    pdf = spark.createDataFrame(
        probe_rows, "lang string, q double, est double, w bigint"
    )
    gates = (
        toks.join(F.broadcast(pdf), "lang")
        .groupBy("lang", "q", "est", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("n_toks") <= F.col("est")).cast("bigint")).alias(
                "le"
            ),
            F.sum((F.col("n_toks") < F.col("est")).cast("bigint")).alias(
                "lt"
            ),
        )
        .select(
            "lang",
            "q",
            (F.col("w") == F.col("n")).alias("wok"),
            (
                (F.col("le") >= (F.col("q") - eps) * F.col("n"))
                & (F.col("lt") <= (F.col("q") + eps) * F.col("n"))
            ).alias("rok"),
        )
        .groupBy("lang")
        .agg(
            F.min("wok").alias("weight_ok"),
            F.min(F.when(F.col("q") == 0.5, F.col("rok"))).alias(
                "rank_ok_p50"
            ),
            F.min(F.when(F.col("q") == 0.95, F.col("rok"))).alias(
                "rank_ok_p95"
            ),
        )
    )
    # vocabulary axis: grouped KMV + overlap/containment vs en
    words = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    wk = words.select("lang", md5_hash31("word").alias("wk")).distinct()
    wk = wk.localCheckpoint(eager=True)
    kmv = collect_grouped_kmv(grouped_kmv_sketch_rows(wk, "lang", "wk"))
    vocab_exact = {
        r["lang"]: r["n"]
        for r in wk.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def est_nd(s: tuple[list[int], int]) -> tuple[float, int]:
        vals, n = s
        if n < KMV_K:
            return float(n), 1
        return 63.0 * KMV_P, vals[KMV_K - 1]

    # A corpus without 'en' degrades to NULL overlap/containment
    # columns (the oracle's scalar `(SELECT theta FROM en)` subquery
    # goes NULL-ish the same way) instead of a driver-side KeyError.
    en = kmv.get("en")
    rows = []
    for lang in sorted(kmv):
        num, den = est_nd(kmv[lang])
        if lang == "en" or en is None:
            rows.append((lang, int(vocab_exact[lang]), num, den, None, None))
        else:
            theta = min(kmv_theta(*kmv[lang]), kmv_theta(*en))
            common = sum(
                1 for hh in set(kmv[lang][0]) & set(en[0]) if hh < theta
            )
            rows.append(
                (lang, int(vocab_exact[lang]), num, den,
                 float(common) * KMV_P, theta)
            )
    vdf = spark.createDataFrame(
        rows,
        "lang string, vocab_exact long, v_num double, v_den long, "
        "o_num double, o_den long",
    )
    vocab = vdf.select(
        "lang",
        "vocab_exact",
        F.round(F.col("v_num") / F.col("v_den"), 9).alias("vocab_est"),
        F.round(F.col("o_num") / F.col("o_den"), 9).alias("en_overlap_est"),
        F.round(
            (F.col("o_num") / F.col("o_den"))
            / (F.col("v_num") / F.col("v_den")),
            9,
        ).alias("en_containment"),
    )
    return ex.join(gates, "lang").join(vocab, "lang")


@register(
    "q_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ), mn AS (SELECT MIN(class_size) AS k_anonymity FROM classes)
    SELECT c.c_mktsegment, c.c_nationkey, c.class_size,
           c.class_size < 5 AS violates_k5,
           m.k_anonymity
    FROM classes c CROSS JOIN mn m
    WHERE c.class_size < 5 OR c.class_size = m.k_anonymity
    """,
    doc="k-anonymity audit over the (mktsegment, nationkey) quasi-"
        "identifier: every equivalence class smaller than k=5 — rows a "
        "linkage attack could single out, the classes a release would "
        "have to suppress or generalize — plus the dataset's achieved "
        "k (the global minimum class size, echoed on every returned "
        "row). The governance pre-check a training-data platform runs "
        "before shipping user-derived tables. One group-keyed count "
        "with map-side combine + a 1-row minimum broadcast; class "
        "cardinality is bounded by the quasi-identifier domain, never "
        "the data.",
    tags=("profiling", "governance", "privacy"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    )
    mn = classes.agg(F.min("class_size").alias("k_anonymity"))
    return (
        classes.crossJoin(F.broadcast(mn))
        .filter(
            (F.col("class_size") < 5)
            | (F.col("class_size") == F.col("k_anonymity"))
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            (F.col("class_size") < 5).alias("violates_k5"),
            "k_anonymity",
        )
    )


@register(
    "q_l_diversity",
    oracle="""
    WITH classes AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
                  AS BIGINT) AS l_distinct
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ), mn AS (SELECT MIN(l_distinct) AS l_diversity FROM classes)
    SELECT c.c_mktsegment, c.c_nationkey, c.class_size, c.l_distinct,
           c.l_distinct < 3 AS violates_l3,
           m.l_diversity
    FROM classes c CROSS JOIN mn m
    WHERE c.l_distinct < 3 OR c.l_distinct = m.l_diversity
    """,
    doc="l-diversity audit, the k-anonymity companion (q_k_anonymity "
        "pins class SIZES; this pins what an attacker learns INSIDE a "
        "class): for each (mktsegment, nationkey) equivalence class, "
        "the number of DISTINCT sensitive values (account-balance "
        "bucketed to 1000s) — a class can be large yet still leak if "
        "every member shares one sensitive value. Flags classes below "
        "l=3 and echoes the dataset's achieved l. Same shape: one "
        "group count-distinct with map-side partials + a 1-row "
        "minimum broadcast.",
    tags=("profiling", "governance", "privacy"),
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size"),
        F.count_distinct(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
        ).cast("bigint").alias("l_distinct"),
    )
    mn = classes.agg(F.min("l_distinct").alias("l_diversity"))
    return (
        classes.crossJoin(F.broadcast(mn))
        .filter(
            (F.col("l_distinct") < 3)
            | (F.col("l_distinct") == F.col("l_diversity"))
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            "l_distinct",
            (F.col("l_distinct") < 3).alias("violates_l3"),
            "l_diversity",
        )
    )


@register(
    "q_t_closeness",
    oracle="""
    WITH bux AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer GROUP BY c_mktsegment, c_nationkey, b
    ), dom AS (SELECT DISTINCT b FROM bux),
    gtot AS (
      SELECT b, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM bux GROUP BY b
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS m
      FROM bux
    ), classes AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(SUM(cnt) AS BIGINT) AS class_size
      FROM bux GROUP BY c_mktsegment, c_nationkey
    ), grid AS (
      SELECT c.c_mktsegment, c.c_nationkey, c.class_size, d.b,
             COALESCE(x.cnt, 0) AS cnt, g.gcnt, t.n_total, t.m
      FROM classes c CROSS JOIN dom d
      LEFT JOIN bux x ON x.c_mktsegment = c.c_mktsegment
        AND x.c_nationkey = c.c_nationkey AND x.b = d.b
      JOIN gtot g ON g.b = d.b
      CROSS JOIN tot t
    ), cum AS (
      SELECT c_mktsegment, c_nationkey, class_size, n_total, m,
             SUM(cnt * n_total - gcnt * class_size)
               OVER (PARTITION BY c_mktsegment, c_nationkey ORDER BY b
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM grid
    ), num AS (
      SELECT c_mktsegment, c_nationkey, class_size, n_total, m,
             CAST(SUM(ABS(cum)) AS BIGINT) AS scaled
      FROM cum GROUP BY c_mktsegment, c_nationkey, class_size, n_total, m
    ), emd AS (
      SELECT c_mktsegment, c_nationkey, class_size,
             round(CAST(scaled AS DOUBLE)
                   / CAST(class_size * n_total * (m - 1) AS DOUBLE),
                   9) AS t_emd
      FROM num
    ), mx AS (SELECT MAX(t_emd) AS t_max FROM emd)
    SELECT e.c_mktsegment, e.c_nationkey, e.class_size, e.t_emd,
           e.t_emd > 0.2 AS violates_t02, m.t_max
    FROM emd e CROSS JOIN mx m
    WHERE e.t_emd > 0.2 OR e.t_emd = m.t_max
    """,
    doc="t-closeness audit completing the privacy trio (q_k_anonymity: "
        "class sizes; q_l_diversity: distinct sensitive values; this: "
        "how far each class's sensitive DISTRIBUTION sits from the "
        "global one): per (mktsegment, nationkey) equivalence class, "
        "the Earth-Mover's Distance between the class's and the "
        "corpus-wide account-balance-bucket distributions over the "
        "ORDERED bucket domain (Li et al. 2007, the ordered-attribute "
        "EMD = mean |CDF difference|). The whole statistic is computed "
        "on INTEGERS — cum_i = sum_{j<=i}(cnt_j*n_total - "
        "gcnt_j*class_size) is the common-denominator-scaled CDF gap — "
        "with ONE final double division, so both engines see identical "
        "IEEE values. Shape: one (class,bucket) count, a broadcast "
        "bucket-domain cross join (domain bounded, never data-scaled), "
        "per-class windows partitioned on the class key, a 1-row "
        "totals/max broadcast. Flags classes above t=0.2 and echoes "
        "the dataset's worst t.",
    tags=("profiling", "governance", "privacy"),
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    # (class, bucket) counts: the ONLY pass over the data. Persisted
    # because four bounded aggregates (domain, global hist, totals,
    # class sizes) derive from it — without the persist each one
    # re-scans the fact table; with it the table is scanned once and
    # everything downstream runs on #classes x #buckets rows.
    bux = cust.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("b"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt")).persist()
    dom = bux.select("b").distinct()
    glob = bux.groupBy("b").agg(F.sum("cnt").cast("bigint").alias("gcnt"))
    tot = bux.agg(
        F.sum("cnt").cast("bigint").alias("n_total"),
        F.count_distinct("b").cast("bigint").alias("m"),
    )
    classes = bux.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("cnt").cast("bigint").alias("class_size")
    )
    grid = (
        classes.crossJoin(F.broadcast(dom))
        .join(bux, ["c_mktsegment", "c_nationkey", "b"], "left")
        .join(F.broadcast(glob), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            "b",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            "gcnt",
            "n_total",
            "m",
        )
    )
    w = (
        Window.partitionBy("c_mktsegment", "c_nationkey")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        "n_total",
        "m",
        F.sum(
            F.col("cnt") * F.col("n_total") - F.col("gcnt") * F.col("class_size")
        ).over(w).alias("cum"),
    )
    num = cum.groupBy(
        "c_mktsegment", "c_nationkey", "class_size", "n_total", "m"
    ).agg(F.sum(F.abs(F.col("cum"))).cast("bigint").alias("scaled"))
    emd = num.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        F.round(
            F.col("scaled").cast("double")
            / (
                F.col("class_size") * F.col("n_total") * (F.col("m") - 1)
            ).cast("double"),
            9,
        ).alias("t_emd"),
    )
    mx = emd.agg(F.max("t_emd").alias("t_max"))
    return (
        emd.crossJoin(F.broadcast(mx))
        .filter((F.col("t_emd") > 0.2) | (F.col("t_emd") == F.col("t_max")))
        .select(
            "c_mktsegment",
            "c_nationkey",
            "class_size",
            "t_emd",
            (F.col("t_emd") > 0.2).alias("violates_t02"),
            "t_max",
        )
    )


@register(
    "q_drift_hellinger",
    oracle="""
    WITH a AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS term
            FROM documents WHERE source = 'src1')
      GROUP BY term),
    b AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS term
            FROM documents WHERE source = 'src2')
      GROUP BY term),
    j AS (
      SELECT COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
      FROM a FULL OUTER JOIN b ON a.term = b.term),
    agg AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n1,
             CAST(SUM(cb) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             {d} AS sg
      FROM j)
    SELECT n_terms, n1, n2,
           round(sg / sqrt(CAST(n1 * n2 AS DOUBLE)), 9) AS bhattacharyya,
           round(sqrt(GREATEST(CAST(0 AS DOUBLE),
                               1 - sg / sqrt(CAST(n1 * n2 AS DOUBLE)))), 9)
             AS hellinger
    FROM agg WHERE n_terms > 0
    """.format(d=sql_dsum12("sqrt(CAST(ca * cb AS DOUBLE))")),
    doc="Hellinger drift between the word distributions of two corpus "
        "slices (src1 vs src2) — the bounded-[0,1] member of the drift "
        "family (tvd: L1; ks: sup-CDF; chi2: variance-weighted L2; "
        "this: geometric/Bhattacharyya affinity). Engine-exact without "
        "the no-ln workaround because sqrt IS IEEE-754 "
        "correctly-rounded on both engines: per-term sqrt(ca*cb) of "
        "exact integer counts is bit-identical, the sum folds through "
        "DECIMAL(28,12) (order-independent), and BC = sum / "
        "sqrt(n1*n2) is one deterministic division — so H = "
        "sqrt(1 - BC) gets a full value oracle where a KL/PSI "
        "statistic could not. Same shape as q_drift_chi2: two "
        "map-side-combinable term counts, one term-keyed full outer "
        "join, a single-row aggregate.",
    tags=("profiling", "drift", "text"),
)
def q_drift_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hellinger_drift_docs(load_table(spark, sf_dir, "documents"))


def hellinger_drift_docs(
    docs: DataFrame, src_a: str = "src1", src_b: str = "src2"
) -> DataFrame:
    """Core of q_drift_hellinger over an in-memory documents frame —
    the chi2_drift_docs companion with the same two-count/one-join
    shape (also exposed on the Engine facade)."""

    def _counts(src: str, alias: str) -> DataFrame:
        return (
            docs.filter(F.col("source") == src)
            .select(
                F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                    "term"
                )
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias(alias))
        )

    j = (
        _counts(src_a, "ca")
        .join(_counts(src_b, "cb"), "term", "full_outer")
        .select(
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    agg = j.agg(
        F.sum("ca").cast("bigint").alias("n1"),
        F.sum("cb").cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dsum12(
            F.sqrt((F.col("ca") * F.col("cb")).cast("double"))
        ).alias("sg"),
    ).filter(F.col("n_terms") > 0)  # empty corpus => empty result
    bc = F.col("sg") / F.sqrt((F.col("n1") * F.col("n2")).cast("double"))
    return agg.select(
        "n_terms",
        "n1",
        "n2",
        F.round(bc, 9).alias("bhattacharyya"),
        F.round(
            F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - bc)), 9
        ).alias("hellinger"),
    )


@register(
    "q_weighted_median",
    oracle="""
    WITH t AS (
      SELECT lang, doc_id, n_chars,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS BIGINT) AS w
      FROM documents
    ), cum AS (
      SELECT lang, n_chars,
             SUM(w) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cw
      FROM t
    ), tot AS (
      SELECT lang, CAST(SUM(w) AS BIGINT) AS total_w,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM t GROUP BY lang
    )
    SELECT c.lang, t2.n_docs, t2.total_w,
           CAST(MIN(c.n_chars) AS BIGINT) AS wmedian
    FROM cum c JOIN tot t2 ON c.lang = t2.lang
    WHERE 2 * c.cw >= t2.total_w
    GROUP BY c.lang, t2.n_docs, t2.total_w
    """,
    doc="Per-group WEIGHTED median (token-weighted median document "
        "length per language): the robust location statistic a "
        "curation report wants when documents contribute unequally — "
        "the median token, not the median document. Exact by "
        "construction: the per-language cumulative weight rides "
        "scale.grouped_distributed_cumsum — a range shuffle on "
        "(lang, n_chars, doc_id) with per-(lang, partition) offsets — "
        "NOT a Window.partitionBy(lang), which with a handful of "
        "languages would funnel corpus/|langs| rows through single "
        "tasks at 100x. A 1-row-per-group totals broadcast then "
        "recovers the crossing row 2*cum >= total as MIN(value) over "
        "the qualifying suffix (values are non-decreasing along the "
        "cumulative order, so the suffix minimum IS the first "
        "crossing) — all integer arithmetic, no percentile "
        "approximation. Ties broken by doc_id for a deterministic "
        "cumulative order; the reported value is tie-invariant anyway.",
    tags=("profiling", "stats", "window"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import grouped_distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.size(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).cast("bigint").alias("w"),
    )
    cum = grouped_distributed_cumsum(
        t, "lang", ["n_chars", "doc_id"], "w", "cw"
    ).select("lang", "n_chars", "cw")
    tot = t.groupBy("lang").agg(
        F.sum("w").cast("bigint").alias("total_w"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return (
        cum.join(F.broadcast(tot), "lang")
        .filter(2 * F.col("cw") >= F.col("total_w"))
        .groupBy("lang", "n_docs", "total_w")
        .agg(F.min("n_chars").cast("bigint").alias("wmedian"))
        .select("lang", "n_docs", "total_w", "wmedian")
    )


@register(
    "q_rater_agreement",
    oracle="""
    WITH t AS (
      SELECT (n_chars >= 200) AS a,
             (len(list_filter(string_split(text, ' '), x -> x <> ''))
              >= 40) AS b
      FROM documents
    ), cells AS (
      SELECT CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
               AS n11,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
               AS n10,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
               AS n01,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM t
    )
    SELECT n11, n10, n01, n00, n,
           round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 9) AS po,
           round(CAST((n11 + n10) * (n11 + n01)
                      + (n01 + n00) * (n10 + n00) AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 9) AS pe,
           round(CAST(n * (n11 + n00)
                      - ((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                 / CAST(n * n
                        - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00)) AS DOUBLE), 9)
             AS kappa
    FROM cells WHERE n > 0
    """,
    doc="Cohen's kappa between two binary quality raters (the "
        "char-length filter vs the token-count filter) — the agreement-"
        "beyond-chance diagnostic a curation pipeline runs before "
        "trusting a cheap filter as a proxy for an expensive one "
        "(Cohen 1960). Computed EXACTLY on the 2x2 confusion counts: "
        "kappa = (N*(n11+n00) - SUM marginal products) / (N^2 - SUM "
        "marginal products) is one integer-arithmetic identity with a "
        "single final division, so both engines see the same IEEE "
        "double (no intermediate proportions). One single-scan "
        "aggregate with map-side partials — the confusion table is "
        "four counters at any corpus size.",
    tags=("profiling", "quality", "agg"),
)
def q_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = F.col("n_chars") >= 200
    b = (
        F.size(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        )
        >= 40
    )
    cells = docs.select(
        a.alias("a"), b.alias("b")
    ).agg(
        F.sum((F.col("a") & F.col("b")).cast("bigint")).cast("bigint").alias("n11"),
        F.sum((F.col("a") & ~F.col("b")).cast("bigint")).cast("bigint").alias("n10"),
        F.sum((~F.col("a") & F.col("b")).cast("bigint")).cast("bigint").alias("n01"),
        F.sum((~F.col("a") & ~F.col("b")).cast("bigint")).cast("bigint").alias("n00"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).filter(F.col("n") > 0)
    marg = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    return cells.select(
        "n11",
        "n10",
        "n01",
        "n00",
        "n",
        F.round(
            (F.col("n11") + F.col("n00")).cast("double")
            / F.col("n").cast("double"),
            9,
        ).alias("po"),
        F.round(
            marg.cast("double") / (F.col("n") * F.col("n")).cast("double"), 9
        ).alias("pe"),
        F.round(
            (F.col("n") * (F.col("n11") + F.col("n00")) - marg).cast("double")
            / (F.col("n") * F.col("n") - marg).cast("double"),
            9,
        ).alias("kappa"),
    )


#: Benford first-digit expectations log10(1 + 1/d): ONE table of literal
#: strings feeds BOTH the Spark plan and the SQL oracle, so the parsed
#: doubles are bit-identical on the two engines (decimal->double parse
#: is correctly rounded in both).
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN '{d}' THEN CAST({v} AS DOUBLE)" for d, v in _BENFORD.items()
) + " END"


@register(
    "q_benford_audit",
    oracle=f"""
    WITH digits AS (
      SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
      FROM digits GROUP BY digit
    ), fr AS (
      SELECT digit, n,
             CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS obs
      FROM counts
    )
    SELECT digit, n, round(obs, 9) AS obs_frac,
           {_BENFORD_SQL_CASE} AS benford_frac,
           round(abs(obs - {_BENFORD_SQL_CASE}), 9) AS abs_dev,
           abs(obs - {_BENFORD_SQL_CASE}) > 0.02 AS flagged
    FROM fr
    """,
    doc="Benford's-law first-digit audit over order totals — the "
        "classic anomaly screen for financial feeds (Newcomb 1881, "
        "Benford 1938; naturally-generated multi-magnitude amounts "
        "follow P(d) = log10(1+1/d), fabricated or constrained ones "
        "usually don't). First digits extracted via integer-floor -> "
        "string (no log10 on the data path, so no libm boundary "
        "divergence); the nine expected frequencies are pinned literal "
        "constants shared verbatim by the Spark plan and the oracle. "
        "One group-keyed count + a 9-row window for the total: "
        "auditing 100 TB costs one scan with map-side partials. The "
        "synthetic fixture's uniform-ish prices rightly FLAG large "
        "deviations — the audit detecting non-Benford data is the "
        "feature.",
    tags=("profiling", "quality", "agg"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
            1,
            1,
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # 9-row input: the no-partition window is bounded by the digit
    # domain, never by the data
    total = F.sum("n").over(Window.partitionBy())
    exp = F.lit(None).cast("double")
    for d, v in reversed(_BENFORD.items()):
        exp = F.when(F.col("digit") == str(d), F.lit(float(v))).otherwise(exp)
    obs = F.col("n").cast("double") / total.cast("double")
    return counts.select(
        "digit",
        "n",
        F.round(obs, 9).alias("obs_frac"),
        exp.alias("benford_frac"),
        F.round(F.abs(obs - exp), 9).alias("abs_dev"),
        (F.abs(obs - exp) > 0.02).alias("flagged"),
    )


@register(
    "q_lorenz_gini",
    oracle="""
    WITH pos AS (
      SELECT c_mktsegment,
             CAST(c_acctbal AS DECIMAL(18,6)) AS x,
             c_custkey
      FROM customer WHERE c_acctbal > 0
    ), ranked AS (
      SELECT c_mktsegment, x,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                     ORDER BY x, c_custkey) AS BIGINT)
               AS i
      FROM pos
    ), agg AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx,
             SUM(i * x) AS six
      FROM ranked GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n,
           CAST(sx AS DOUBLE) AS total_balance,
           round((2 * CAST(six AS DOUBLE) - (CAST(n AS DOUBLE) + 1)
                    * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS gini
    FROM agg
    """,
    doc="Per-segment Gini concentration of positive account balances — "
        "the Lorenz-curve inequality audit (how concentrated is the "
        "balance mass within each market segment), via the exact rank "
        "formula G = (2*SUM(i*x_(i)) - (n+1)*SUM(x)) / (n*SUM(x)) over "
        "the ascending sort. Everything before the ONE final division "
        "is exact: ranks are integers (custkey tie-break), balances "
        "and the rank-weighted sum fold through DECIMAL(18,6)/(28,6) "
        "(order-independent), so both engines divide identical values. "
        "One group-partitioned ROW_NUMBER window + one grouped "
        "aggregate — the window shuffles on the segment key, never a "
        "global sort. Companion to q_skew_stats (key-frequency skew) "
        "and q_zipf_coverage (token mass): this one measures VALUE "
        "mass concentration.",
    tags=("profiling", "stats", "window"),
)
def q_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).select(
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,6)").alias("x"),
        "c_custkey",
    )
    win = Window.partitionBy("c_mktsegment").orderBy("x", "c_custkey")
    ranked = pos.select(
        "c_mktsegment",
        "x",
        F.row_number().over(win).cast("bigint").alias("i"),
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    return agg.select(
        "c_mktsegment",
        "n",
        sx_d.alias("total_balance"),
        F.round(
            (2 * F.col("six").cast("double") - (n_d + 1) * sx_d)
            / (n_d * sx_d),
            9,
        ).alias("gini"),
    )
