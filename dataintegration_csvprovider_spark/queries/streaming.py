"""Structured Streaming queries (SURVEY.md §2.8) over the ``events``
fixture. Each runs a real streaming query (file source → watermarked
windows → memory sink) to completion with an availableNow trigger, then
returns the materialized batch result — deterministic, so the tumbling /
sliding / session aggregations carry full SQL oracles (gaps-and-islands
for sessions); only semantics DuckDB can't express stay rows-only.

A query that needs a fixed micro-batch schedule (the monitors, the
crash/restart checks, the late-data, exactly-once and upsert checks)
stages its slices with ``streaming/events.py:stage_slices`` and replays
them with ``slice_stream`` and ``run_batches``. Its directories live in
one ``tempfile.TemporaryDirectory``, and a result that would read from
it is materialized before the block ends; only the shared events stage
and the append-mode sinks live under the process scratch root.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..streaming.events import (
    dedup_within_watermark,
    run_batches,
    run_to_completion,
    scratch_root,
    session_agg,
    slice_stream,
    sliding_agg,
    stage_slices,
    stream_from_parquet,
    tumbling_agg,
)
from .profiling import _CMS_P, _CMS_SEEDS, _CMS_W, _cms_cells
from .registry import dsum, dsum12, register, sql_dsum

# r13 decimal-sum migration: per-window/per-session/per-segment event
# value sums are data-scaled (rows per window grow with event density),
# so every streaming total rides the exact micros form.
_DSUM_VALUE = sql_dsum("value")
_DSUM_EVALUE = sql_dsum("e.value")
from .textmining import _BM25_ORACLE_CORE

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


#: staged landing dirs, one per sf_dir per process — queries that open
#: several streams (e.g. a stream-stream join) reuse one staging write
_STAGED: dict[str, tuple[str, object]] = {}


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage events into a microsecond-timestamp parquet landing dir (the
    fixture's TIMESTAMP(NANOS) isn't streamable) under the process
    scratch root and open a file-source stream over it."""
    if sf_dir not in _STAGED:
        # withWatermark requires TIMESTAMP (LTZ); parquet NTZ inference can
        # hand back TIMESTAMP_NTZ depending on writer metadata, so pin the
        # type here (session timezone is UTC — rendering is unchanged)
        events = load_table(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        d = f"{scratch_root()}/events_stage_{uuid.uuid4().hex[:12]}"
        events.write.mode("overwrite").parquet(d)
        _STAGED[sf_dir] = (d, events.schema)
    d, schema = _STAGED[sf_dir]
    return stream_from_parquet(spark, d, schema)


@register(
    "q_stream_tumbling",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{_TS_FMT_DUCK}') AS win_start,
           event_type,
           COUNT(*) AS n,
           {_DSUM_VALUE} AS total
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming tumbling 1h window agg (watermarked, availableNow).",
    tags=("streaming",),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = tumbling_agg(_events_stream(spark, sf_dir), window="1 hour")
    out = run_to_completion(agg, output_mode="complete")
    return out.select(
        F.date_format("window.start", _TS_FMT_SPARK).alias("win_start"),
        "event_type",
        "n",
        "total",
    )


@register(
    "q_stream_tumbling_append",
    # the PRODUCTION form of the tumbling aggregation: watermark + append
    # mode = bounded state (closed windows are emitted once and their
    # state evicted), vs q_stream_tumbling's complete-mode oracle harness
    # that re-emits everything and holds all windows forever. On an
    # unbounded stream only this form survives; the bench headline uses
    # it. availableNow processes all files, then the no-data batch
    # advances the watermark to max(ts) - 2h and append emits exactly the
    # windows that watermark closed — deterministic per fixture, so the
    # oracle applies the same horizon predicate.
    oracle=f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{_TS_FMT_DUCK}') AS win_start,
           event_type,
           COUNT(*) AS n,
           {_DSUM_VALUE} AS total
    FROM events, wm
    WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    """,
    doc="Streaming tumbling 1h window agg in WATERMARKED APPEND mode — "
        "bounded state, emit-once, the only shape that runs on an "
        "unbounded stream. The oracle recomputes the final watermark "
        "horizon (max event time - 2h) and keeps exactly the closed "
        "windows.",
    tags=("streaming", "watermark"),
)
def q_stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = tumbling_agg(
        _events_stream(spark, sf_dir), window="1 hour", watermark="2 hours"
    )
    out = run_to_completion(agg, output_mode="append")
    return out.select(
        F.date_format("window.start", _TS_FMT_SPARK).alias("win_start"),
        "event_type",
        "n",
        "total",
    )


@register(
    "q_stream_sliding",
    oracle=f"""
    WITH starts AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS s FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR FROM events)
    SELECT strftime(s, '{_TS_FMT_DUCK}') AS win_start, COUNT(*) AS n
    FROM starts GROUP BY s
    """,
    doc="Streaming sliding window (2h size, 1h slide): each event counts "
        "in two windows.",
    tags=("streaming",),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = sliding_agg(_events_stream(spark, sf_dir), window="2 hours", slide="1 hour")
    out = run_to_completion(agg, output_mode="complete")
    return out.select(
        F.date_format("window.start", _TS_FMT_SPARK).alias("win_start"), "n"
    )


@register(
    "q_stream_session_append",
    # bounded-state session analytics: append + watermark emits each
    # session exactly once when the watermark passes its end (last event
    # + gap) and evicts its state — the only shape whose session store
    # stays finite on an unbounded stream. The final availableNow
    # watermark is max(ts) - 2h; the oracle applies the same horizon to
    # the gaps-and-islands recomputation.
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '{_TS_FMT_DUCK}.%f') AS session_end,
           COUNT(*) AS n_events,
           {_DSUM_VALUE} AS total
    FROM sessions, wm
    GROUP BY user_id, sid, wm.w
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= wm.w
    """,
    doc="Streaming session windows (30 min gap) in WATERMARKED APPEND "
        "mode: sessions emit once when closed by the watermark and their "
        "state evicts — bounded memory on an unbounded stream; the "
        "oracle recomputes gaps-and-islands sessions under the same "
        "final-watermark horizon.",
    tags=("streaming", "session", "watermark"),
)
def q_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = session_agg(
        _events_stream(spark, sf_dir), gap="30 minutes", watermark="2 hours"
    )
    out = run_to_completion(agg, output_mode="append")
    fmt = _TS_FMT_SPARK + ".SSSSSS"
    return out.select(
        "user_id",
        F.date_format("session_window.start", fmt).alias("session_start"),
        F.date_format("session_window.end", fmt).alias("session_end"),
        "n_events",
        "total",
    )


@register(
    "q_stream_sliding_append",
    # bounded-state sliding windows: each event contributes to 2
    # overlapping windows; append emits a window once when the final
    # watermark (max ts - 2h) closes it and evicts its state
    oracle=f"""
    WITH starts AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS s FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR FROM events),
    wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT strftime(s, '{_TS_FMT_DUCK}') AS win_start, COUNT(*) AS n
    FROM starts, wm
    WHERE s + INTERVAL 2 HOUR <= wm.w
    GROUP BY s
    """,
    doc="Streaming sliding windows (2h size, 1h slide) in WATERMARKED "
        "APPEND mode — bounded state, emit-once; the oracle keeps "
        "exactly the windows the final watermark closed.",
    tags=("streaming", "watermark"),
)
def q_stream_sliding_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = sliding_agg(
        _events_stream(spark, sf_dir),
        window="2 hours",
        slide="1 hour",
        watermark="2 hours",
    )
    out = run_to_completion(agg, output_mode="append")
    return out.select(
        F.date_format("window.start", _TS_FMT_SPARK).alias("win_start"), "n"
    )


@register(
    "q_stream_session",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_DUCK}.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '{_TS_FMT_DUCK}.%f') AS session_end,
           COUNT(*) AS n_events,
           {_DSUM_VALUE} AS total
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc="Streaming session windows (30 min gap) vs the classic "
        "gaps-and-islands SQL.",
    tags=("streaming", "session"),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = session_agg(_events_stream(spark, sf_dir), gap="30 minutes")
    out = run_to_completion(agg, output_mode="complete")
    fmt = _TS_FMT_SPARK + ".SSSSSS"
    return out.select(
        "user_id",
        F.date_format("session_window.start", fmt).alias("session_start"),
        F.date_format("session_window.end", fmt).alias("session_end"),
        "n_events",
        "total",
    )


@register(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="dropDuplicatesWithinWatermark on (user_id, event_type): bounded-"
        "state streaming dedup.",
    tags=("streaming", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = dedup_within_watermark(
        _events_stream(spark, sf_dir), keys=("user_id", "event_type")
    )
    out = run_to_completion(deduped, output_mode="append")
    return out.select("user_id", "event_type")


@register(
    "q_stream_stateful",
    # the state machine's float totals accumulate pandas-side (order not
    # reproducible in SQL), but its COUNTS are exact and its totals must
    # agree with the batch decimal sum to 1e-6 relative — both
    # oracle-pinned, so dropped rows, lost state, or a batch-boundary bug
    # in the applyInPandasWithState path fails the hash gate
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS total_ok
    FROM events GROUP BY user_id
    """,
    doc="applyInPandasWithState custom stateful operator: per-user "
        "running totals across micro-batches; exact counts and a "
        "batch-parity bound on the float totals are oracle-checked.",
    tags=("streaming", "stateful"),
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stateful_user_totals

    out = run_to_completion(
        stateful_user_totals(_events_stream(spark, sf_dir)), output_mode="update"
    )
    # update mode emits one row per key per micro-batch; the final state
    # is the emission with the highest running count
    final = out.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.max_by("total", "n_events").alias("total"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            dsum(F.col("value")).alias("exact_total")
        )
    )
    tol = F.greatest(F.abs(F.col("exact_total")), F.lit(1.0)) * 1e-6
    return final.join(exact, "user_id").select(
        "user_id",
        "n_events",
        (F.abs(F.col("total") - F.col("exact_total")) <= tol).alias("total_ok"),
    )


@register(
    "q_stream_csv_source",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{_TS_FMT_DUCK}')
             AS win_start,
           event_type, COUNT(*) AS n
    FROM events WHERE event_id < 1000
    GROUP BY 1, 2
    """,
    doc="CSV file-source stream through the engine's dialect options → "
        "windowed counts (subsumes the S4 stability gate); values survive "
        "the CSV roundtrip, so the windowed counts match the parquet "
        "oracle exactly.",
    tags=("streaming", "csv"),
)
def q_stream_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.csv_sink import CsvSink
    from ..sources.csv_source import CsvSource
    from ..streaming.events import stream_from_csv_source

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 1000
    )
    with tempfile.TemporaryDirectory(
        prefix="stream_csv_", ignore_cleanup_errors=True
    ) as d:
        CsvSink(folder=d).write(
            events.select(
                F.col("ts").cast("string").alias("ts"), "event_type", "value"
            ),
            "events",
        )
        src = CsvSource(folder=d)
        stream = stream_from_csv_source(spark, src, "events").select(
            F.col("ts").try_cast("timestamp").alias("ts"),
            "event_type",
            F.col("value").try_cast("double").alias("value"),
        )
        agg = tumbling_agg(stream, window="1 hour", group_cols=("event_type",))
        # the complete-mode memory sink holds the result on the driver,
        # so it reads nothing from ``d`` once the run ends
        out = run_to_completion(agg, output_mode="complete")
    return out.select(
        F.date_format("window.start", _TS_FMT_SPARK).alias("win_start"),
        "event_type",
        "n",
    )


@register(
    "q_stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment, COUNT(*) AS n,
           {_DSUM_EVALUE} AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    doc="Stream-static enrichment join: the event stream joins a static "
        "customer dimension (broadcast — no state store, no stream-side "
        "shuffle for the join) before a complete-mode aggregate. The "
        "standard 100 TB enrichment shape: dim refreshes per micro-batch.",
    tags=("streaming", "join"),
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _events_stream(spark, sf_dir)
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = events.join(cust, events.user_id == cust.c_custkey)
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("total"),
    )
    return run_to_completion(agg, output_mode="complete")


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'click' AND a.event_type = 'view'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    GROUP BY a.user_id
    """,
    doc="Stream-stream interval join: views joined to clicks by the same "
        "user within 30 minutes — both sides watermarked so the join "
        "state store evicts rows older than the interval bound; the "
        "attribution-join shape. availableNow processes all fixture data "
        "in one batch, so the result equals the batch self-join oracle.",
    tags=("streaming", "join"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
        )
        .withWatermark("v_ts", "2 hours")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND c_ts >= v_ts "
            "AND c_ts <= v_ts + INTERVAL 30 MINUTES"
        ),
    )
    out = run_to_completion(joined, output_mode="append")
    return out.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@register(
    "q_stream_upsert",
    oracle="""
    WITH last AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_type AS last_event_type, value AS last_value
    FROM last WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="Streaming CDC: a 4-micro-batch file stream folds into a keyed "
        "state table via foreachBatch last-writer-wins-by-event-time "
        "merge with delete tombstones (streaming/events.py "
        "stream_upsert_state); the final snapshot equals the batch SQL "
        "over the full log regardless of batch order, which is exactly "
        "what the oracle checks.",
    tags=("streaming", "cdc"),
)
def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import upsert_batches

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory(
        prefix="upsert_", ignore_cleanup_errors=True
    ) as tmp:
        # microsecond timestamps for streamability; 4 files -> 4
        # micro-batches
        stage = f"{tmp}/stage"
        schema = stage_slices(stage, [
            (f"{k}.parquet", events.filter(F.col("event_id") % 4 == k))
            for k in range(4)
        ])
        run_batches(
            slice_stream(spark, stage, schema),
            f"{tmp}/ck",
            upsert_batches(f"{tmp}/state"),
        )
        # 'error' rows are delete tombstones: kept in state, filtered at
        # read
        return (
            spark.read.parquet(f"{tmp}/state")
            .filter(F.col("event_type") != "error")
            .select(
                "user_id",
                F.col("event_type").alias("last_event_type"),
                F.col("value").alias("last_value"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "q_stream_topk",
    oracle=f"""
    WITH counts AS (
      SELECT strftime(time_bucket(INTERVAL 6 HOUR, ts), '{_TS_FMT_DUCK}')
               AS win_start,
             user_id, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT win_start, user_id, n FROM (
      SELECT win_start, user_id, n,
             ROW_NUMBER() OVER (PARTITION BY win_start
                                ORDER BY n DESC, user_id) AS rn
      FROM counts) t
    WHERE rn <= 3
    """,
    doc="Streaming top-k: per-6h-window per-user counts maintained by "
        "the watermarked streaming aggregate (incremental, bounded "
        "state); the rank step runs on the finalized windows after "
        "run_to_completion — the standard aggregate-then-rank split, "
        "since rank-over-stream would need the whole window's state "
        "re-sorted on every update. Ties break on user_id.",
    tags=("streaming", "window", "topk"),
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_completion(agg, output_mode="complete")
    w = Window.partitionBy("window").orderBy(F.col("n").desc(), F.col("user_id"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.date_format("window.start", _TS_FMT_SPARK).alias("win_start"),
            "user_id",
            "n",
        )
    )


@register(
    "q_stream_exactly_once",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE user_id < 60 GROUP BY user_id
    """,
    doc="Exactly-once across restarts, made observable: per-batch "
        "partial counts are APPENDED to a parquet ledger by "
        "foreachBatch, so any re-delivery would double-count. The "
        "same checkpointed query runs THREE times — initial two-file "
        "backlog, an idle restart (must append nothing), and a restart "
        "after a late third file lands (must append only that file's "
        "counts). The summed ledger equals the plain batch GROUP BY "
        "only if the checkpoint's offset tracking delivered every file "
        "exactly once.",
    tags=("streaming", "cdc", "checkpoint"),
)
def q_stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    early = ev.filter(F.col("user_id") < 50)
    with tempfile.TemporaryDirectory(
        prefix="eo_", ignore_cleanup_errors=True
    ) as tmp:
        stage, ledger, ck = f"{tmp}/stage", f"{tmp}/ledger", f"{tmp}/ck"
        schema = stage_slices(stage, [
            ("a.parquet", early.filter(F.col("user_id") % 2 == 0)),
            ("b.parquet", early.filter(F.col("user_id") % 2 == 1)),
        ])

        def append_partials(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("append")
                .parquet(ledger)
            )

        feed = slice_stream(spark, stage, schema)
        run_batches(feed, ck, append_partials)  # initial backlog
        run_batches(feed, ck, append_partials)  # idle restart: a no-op
        # a late file lands, then another restart picks up ONLY that file
        stage_slices(stage, [(
            "c.parquet",
            ev.filter((F.col("user_id") >= 50) & (F.col("user_id") < 60)),
        )])
        run_batches(feed, ck, append_partials)
        return (
            spark.read.parquet(ledger)
            .groupBy("user_id")
            .agg(F.sum("n").cast("bigint").alias("n_events"))
            .localCheckpoint(eager=True)
        )


@register(
    "q_python_stream_source",
    oracle="""
    SELECT CAST(i % 7 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- bounded-sum: fixed 100-row synthetic stream, |sum| < 100
           CAST(SUM(CAST(((i * 31) % 997) / 997.0 AS DECIMAL(18,6)))
                AS DOUBLE) AS total_x
    FROM (SELECT unnest(generate_series(0, 99)) AS i)
    GROUP BY 1
    """,
    doc="Custom Python STREAMING source (SimpleDataSourceStreamReader, "
        "sources/pyds.py): a 100-row sequence delivered 40 rows per "
        "micro-batch through engine-checkpointed offsets. The query "
        "restarts availableNow until the offset stops advancing — each "
        "restart resumes exactly where the committed offset left off, "
        "appending partials to a parquet ledger; the summed ledger "
        "equals the batch oracle only under exactly-once delivery.",
    tags=("streaming", "source", "datasource"),
)
def q_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import pyds

    pyds.register_stream(spark)
    with tempfile.TemporaryDirectory(
        prefix="pysrc_", ignore_cleanup_errors=True
    ) as tmp:
        ledger = f"{tmp}/ledger"

        def append(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.groupBy("bucket")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    # bounded-sum: fixed 100-row synthetic stream
                    F.sum(F.col("x").cast("decimal(18,6)")).alias("sx"),
                )
                .write.mode("append")
                .parquet(ledger)
            )

        feed = (
            spark.readStream.format("seqstream")
            .option("n", 100)
            .option("batch", 40)
            .load()
        )
        for _ in range(4):  # 3 batches of data + one provably-idle restart
            run_batches(feed, f"{tmp}/ck", append)
        return (
            spark.read.parquet(ledger)
            .groupBy("bucket")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("sx").cast("double").alias("total_x"),
            )
            .localCheckpoint(eager=True)
        )


@register(
    "q_stream_late_drop",
    # watermark semantics pinned as constants: the two-batch schedule
    # below is fully deterministic (explicit file->batch order via
    # mtimes, availableNow), so the exact set of emitted windows and the
    # dropped late row are fixed facts the oracle states directly
    oracle="""
    SELECT * FROM (VALUES
      ('2024-03-01 00:00:00', 2),
      ('2024-03-01 01:00:00', 1),
      ('2024-03-01 05:00:00', 3)
    ) AS t(win_start, n)
    """,
    doc="Watermark late-data semantics, end to end: batch 1's 05:00 "
        "sentinel advances the event-time watermark to 04:00; Spark "
        "activates an updated watermark one batch later (the late-row "
        "filter uses the pre-batch value), so a spacer batch makes "
        "04:00 operative before batch 3 delivers the LATE 00:30 row — "
        "dropped, the 00:00 window keeps n=2. Append mode emits only "
        "windows the final 22:00 watermark closed, so the 23:00 "
        "sentinel's own window is deliberately absent. A regression in "
        "watermark tracking, late-row filtering, or append finalization "
        "changes the emitted set and fails the constants oracle.",
    tags=("streaming", "watermark"),
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    def ts_file(rows: list[str]) -> DataFrame:
        return spark.createDataFrame(
            [(r,) for r in rows], "ts_str string"
        ).select(F.col("ts_str").cast("timestamp").alias("ts"))

    emitted: list = []

    def collect_windows(batch_df: DataFrame, batch_id: int) -> None:
        # append mode: each batch emits only the windows it closed
        emitted.extend(
            batch_df.select(
                F.date_format("window.start", _TS_FMT_SPARK).alias(
                    "win_start"
                ),
                F.col("n").cast("int").alias("n"),
            ).collect()
        )

    with tempfile.TemporaryDirectory(
        prefix="late_", ignore_cleanup_errors=True
    ) as tmp:
        stage = f"{tmp}/stage"
        schema = stage_slices(stage, [
            # batch 1: two 00:xx rows, one 01:xx row, and a 05:00
            # sentinel that advances the watermark to 04:00 for the NEXT
            # batch
            ("a.parquet", ts_file([
                "2024-03-01 00:10:00",
                "2024-03-01 00:20:00",
                "2024-03-01 01:15:00",
                "2024-03-01 05:00:00",
            ])),
            # batch 2 (spacer): one on-time row; its real purpose is to
            # let the 04:00 watermark computed from batch 1 become the
            # operative filter value (watermark activation lags one
            # batch)
            ("b_spacer.parquet", ts_file(["2024-03-01 05:10:00"])),
            # batch 3: a LATE 00:30 row (< 04:00 watermark -> dropped),
            # an on-time 05:30 row, and a 23:00 sentinel that closes
            # every window up to 22:00
            ("c.parquet", ts_file([
                "2024-03-01 00:30:00",
                "2024-03-01 05:30:00",
                "2024-03-01 23:00:00",
            ])),
        ])
        agg = (
            slice_stream(spark, stage, schema)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        run_batches(agg, f"{tmp}/ck", collect_windows)
    return spark.createDataFrame(emitted, "win_start string, n int")


@register(
    "q_stream_state_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS state_rows,
           TRUE AS observed_match
    FROM (SELECT DISTINCT date_trunc('hour', ts), event_type FROM events)
    """,
    doc="Streaming state-store observability as a verifiable fact: run "
        "the watermarked tumbling agg with per-batch progress capture "
        "(streaming/events.py run_with_progress) and report "
        "stateOperators.numRowsTotal — which must equal the number of "
        "distinct (hour, event_type) groups the oracle counts — plus a "
        "boolean that the df.observe row counter saw every input row "
        "exactly once. These are the two alarms a production monitor "
        "hangs off StreamingQueryProgress; here they're pinned to exact "
        "values instead of eyeballed.",
    tags=("streaming", "metrics"),
)
def q_stream_state_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import observe_rows, run_with_progress

    stream = observe_rows(_events_stream(spark, sf_dir))
    out, progresses = run_with_progress(
        tumbling_agg(stream, window="1 hour"), "complete"
    )
    state_totals = [
        op["numRowsTotal"]
        for p in progresses
        for op in p.get("stateOperators", [])
        if "numRowsTotal" in op
    ]
    observed = sum(
        p["observedMetrics"]["engine_metrics"]["n_rows"]
        for p in progresses
        if p.get("observedMetrics", {}).get("engine_metrics")
    )
    n_input = load_table(spark, sf_dir, "events").count()
    return spark.createDataFrame(
        [(max(state_totals) if state_totals else 0, observed == n_input)],
        "state_rows bigint, observed_match boolean",
    )


def _stream_minhash_perm_values() -> str:
    from ..operators.dedup import minhash_mix

    return ", ".join(
        "({}, {}, {})".format(i, *minhash_mix(i)) for i in range(64)
    )


@register(
    "q_stream_dedup_corpus",
    # Round 10: the SUM(n_chars)-keyed constants pin is RETIRED — the
    # signatures run the md5 hash family (the r9 q_dedup_minhash
    # template; xxhash64 stays the production default), so the oracle
    # replays the ENTIRE cross-corpus pipeline from scratch: incoming
    # (src0-4) and corpus signature matrices, banding, the stream-
    # static candidate join (band-slice equality — the Spark side
    # bucket-hashes the slice, equal modulo xxhash64 collisions),
    # estimate filter at 0.5, and the per-doc/total rollup. Estimates
    # are multiples of 1/64 so the decimal-accumulated sum is exact.
    oracle=f"""
    WITH mh_perms(i, pa, pb) AS (VALUES {_stream_minhash_perm_values()}),
    toks AS MATERIALIZED (
      SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents
      WHERE text IS NOT NULL AND trim(text) <> ''
        AND len(regexp_split_to_array(trim(text), '\\s+')) >= 3
    ),
    h AS MATERIALIZED (
      SELECT DISTINCT doc_id, source,
             CAST(CAST(concat('0x', substring(md5(gram), 1, 16))
                       AS UBIGINT) % 2147483647 AS BIGINT) AS hg
      FROM (SELECT doc_id, source,
                   unnest(list_distinct(list_transform(
                     range(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS gram
            FROM toks)
    ),
    sig AS MATERIALIZED (
      SELECT doc_id, source, p.i,
             MIN((hg * p.pa + p.pb) % 2147483647) AS mh
      FROM h CROSS JOIN mh_perms p GROUP BY doc_id, source, p.i
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, source, i // 4 AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS slc
      FROM sig GROUP BY doc_id, source, i // 4
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id, y.doc_id AS corpus_id
      FROM bands x JOIN bands y ON x.band = y.band AND x.slc = y.slc
      WHERE x.source IN ('src0','src1','src2','src3','src4')
        AND y.source NOT IN ('src0','src1','src2','src3','src4')
    ),
    est AS (
      SELECT c.id, c.corpus_id,
             SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 64.0
               AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id
      JOIN sig sb ON sb.doc_id = c.corpus_id AND sb.i = sa.i
      GROUP BY c.id, c.corpus_id
    ),
    per AS (
      SELECT id, MAX(est_jaccard) AS max_est,
             COUNT(DISTINCT corpus_id) AS n_dups
      FROM est WHERE est_jaccard >= 0.5 GROUP BY id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_flagged,
           CAST(COALESCE(SUM(n_dups), 0) AS BIGINT) AS total_dups,
           COALESCE((CAST(CAST(SUM(CAST(CAST(CAST(max_est AS DECIMAL(24,12)) AS DECIMAL(38,12)) * 1000000000000 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS DOUBLE) / 1000000000000.0), 0.0) AS est_sum
    FROM per
    """,
    doc="STREAMING corpus dedup gate (operators/dedup.py "
        "stream_near_dup_flags): a stream of incoming docs is minhashed "
        "and flagged against a static corpus signature snapshot via a "
        "stream-STATIC band-bucket join — fully STATELESS (no watermark, "
        "no state store, append mode, restart-safe), the production "
        "ingestion-dedup topology; per-doc aggregation happens batch-"
        "side after the run, as a foreachBatch consumer would.",
    tags=("streaming", "dedup"),
)
def q_stream_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        _with_content,
        minhash_signatures,
        stream_near_dup_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch_srcs = ["src0", "src1", "src2", "src3", "src4"]
    incoming = docs.filter(F.col("source").isin(batch_srcs))
    corpus = docs.filter(~F.col("source").isin(batch_srcs))
    corpus_sigs = minhash_signatures(
        _with_content(corpus, "text", min_words=3), base_hash="md5"
    ).persist()
    try:
        with tempfile.TemporaryDirectory(
            prefix="sdedup_", ignore_cleanup_errors=True
        ) as d:
            incoming.write.mode("overwrite").parquet(d)
            stream = stream_from_parquet(spark, d, incoming.schema)
            flags = stream_near_dup_flags(
                stream, corpus_sigs, threshold=0.5, base_hash="md5"
            )
            out = run_to_completion(
                flags, output_mode="append"
            ).localCheckpoint(eager=True)
    finally:
        corpus_sigs.unpersist()
    return (
        out.groupBy("id")
        .agg(
            F.max("est_jaccard").alias("max_est"),
            F.countDistinct("corpus_id").alias("n_dups"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_flagged"),
            F.sum("n_dups").cast("bigint").alias("total_dups"),
            dsum12(F.col("max_est")).alias("est_sum"),
        )
    )


@register(
    "q_stream_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id, source, i - 1 AS pos,
             array_to_string(toks[i : i + 9], ' ') AS gram
      FROM toks,
           UNNEST(generate_series(1, GREATEST(len(toks) - 9, 0))) AS t(i)
    ), ev AS (
      SELECT DISTINCT gram FROM grams WHERE source = 'src0'
    ), marked AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN ev USING (gram)
      WHERE g.source <> 'src0'
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 9) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS is_new
      FROM marked
    ), islanded AS (
      SELECT doc_id, pos,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), spans AS (
      SELECT doc_id, island,
             MIN(pos) AS span_start, MAX(pos + 9) AS span_end
      FROM islanded GROUP BY doc_id, island
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_end - span_start + 1) AS BIGINT)
             AS n_contaminated_tokens
    FROM spans GROUP BY doc_id
    """,
    doc="STREAMING substring decontamination gate (operators/dedup.py "
        "stream_contamination_flags): incoming training docs stream "
        "through a stream-STATIC left-semi join against the static "
        "eval-window index (exact_substring_eval_index snapshot, the "
        "once-per-eval-version artifact) — fully STATELESS (no "
        "watermark, no state store, append mode, restart-safe). The "
        "island merge runs batch-side on the emitted (id, pos) hits, "
        "as a foreachBatch consumer would; the oracle re-derives the "
        "same spans from scratch in SQL. Streaming twin of "
        "q_exact_substring_decontaminate.",
    tags=("streaming", "dedup", "contamination", "substring"),
)
def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.dedup import (
        exact_substring_eval_index,
        stream_contamination_flags,
    )

    L = 10
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("source") != "src0")
    ev = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    ev_index = exact_substring_eval_index(ev, min_tokens=L).persist()
    try:
        with tempfile.TemporaryDirectory(
            prefix="sdecon_", ignore_cleanup_errors=True
        ) as d:
            incoming.select("doc_id", "text").write.mode("overwrite").parquet(d)
            stream = stream_from_parquet(
                spark, d, incoming.select("doc_id", "text").schema
            )
            flags = stream_contamination_flags(stream, ev_index, min_tokens=L)
            out = run_to_completion(
                flags, output_mode="append"
            ).localCheckpoint(eager=True)
    finally:
        ev_index.unpersist()

    w_prev = (
        W.partitionBy("id").orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    )
    w_cum = (
        W.partitionBy("id").orderBy("pos").rowsBetween(W.unboundedPreceding, 0)
    )
    flagged = out.withColumn(
        "__is_new",
        (
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + L - 1).over(w_prev), F.lit(-1))
        ).cast("int"),
    )
    spans = (
        flagged.withColumn("__island", F.sum("__is_new").over(w_cum))
        .groupBy("id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + L - 1).alias("span_end"),
        )
    )
    return spans.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("n_contaminated_tokens"),
    )


@register(
    "q_stream_training_ingest",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
    )
    SELECT CAST(doc_id % 8 AS INT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_id,
           CAST(MAX(doc_id) AS BIGINT) AS last_id
    FROM t
    WHERE n_tokens >= 10 AND lang IS NOT NULL
    GROUP BY 1
    """,
    doc="The END-TO-END streaming training-ingest topology: a document "
        "stream is quality-filtered IN the stream (SQL-expressible keep "
        "rules — the filter_funnel gates), hash-sharded, and written by "
        "foreachBatch as partitionBy(shard_id) parquet appends — the "
        "layout a training loader streams — with the manifest recomputed "
        "FROM THE WRITTEN FILES after the availableNow run, so the "
        "oracle verifies what landed on disk, not an in-memory echo. "
        "Stateless (no watermark, no state store): every operator is "
        "map-side, restart-safe via the checkpointed file-source "
        "offsets; the only shuffle is the post-run manifest aggregate. "
        "Hash sharding (doc_id % 8) rather than token-balanced: "
        "streaming cannot see the global prefix sum, so balance comes "
        "from the law of large numbers per micro-batch — the batch "
        "token-balanced writer (sinks/shards.py) is the offline "
        "compaction pass.",
    tags=("streaming", "sink", "text"),
)
def q_stream_training_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="ingest_", ignore_cleanup_errors=True
    ) as tmp:
        d_in, d_out = f"{tmp}/src", f"{tmp}/shards"
        docs.write.mode("overwrite").parquet(d_in)
        stream = stream_from_parquet(spark, d_in, docs.schema)
        n_tokens = F.size(
            F.filter(F.split("text", " "), lambda w: w != F.lit(""))
        ).cast("bigint")
        clean = (
            stream.withColumn("n_tokens", n_tokens)
            .filter((F.col("n_tokens") >= 10) & F.col("lang").isNotNull())
            .withColumn("shard_id", (F.col("doc_id") % 8).cast("int"))
            .select("doc_id", "shard_id", "n_tokens")
        )

        def write_batch(bdf: DataFrame, _batch_id: int) -> None:
            bdf.write.mode("append").partitionBy("shard_id").parquet(d_out)

        run_batches(clean, f"{tmp}/ckpt", write_batch)
        written = spark.read.parquet(d_out)
        manifest = (
            written.groupBy(F.col("shard_id").cast("int").alias("shard_id"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                F.min("doc_id").cast("bigint").alias("first_id"),
                F.max("doc_id").cast("bigint").alias("last_id"),
            )
            .localCheckpoint(eager=True)
        )
    return manifest


def _ks_sql(sample_pred: str, ref_pred: str) -> str:
    """DuckDB KS-statistic fragment between two predicate-defined slices
    of the events value column (shared by the q_stream_drift_monitor
    oracle — one copy per micro-batch slice)."""
    return f"""
    SELECT MAX(abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                   - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
      FROM (
        SELECT SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
               SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
        FROM (
          SELECT v, SUM(ca) AS ca, SUM(cb) AS cb FROM (
            SELECT value AS v, 1 AS ca, 0 AS cb FROM events
            WHERE {sample_pred}
            UNION ALL
            SELECT value, 0, 1 FROM events WHERE {ref_pred}
          ) GROUP BY v
        )
      ) c,
      (SELECT SUM(CASE WHEN {sample_pred} THEN 1 ELSE 0 END) AS n_a,
              SUM(CASE WHEN {ref_pred} THEN 1 ELSE 0 END) AS n_b
       FROM events) t
    """


@register(
    "q_stream_drift_monitor",
    oracle="""
    SELECT CAST(b.batch AS INT) AS batch,
           CAST((SELECT COUNT(*) FROM events
                 WHERE event_id % 4 = b.batch + 1) AS BIGINT) AS n_batch,
           CASE b.batch
             WHEN 0 THEN ({ks0})
             WHEN 1 THEN ({ks1})
             ELSE ({ks2})
           END AS ks_stat
    FROM (VALUES (0), (1), (2)) AS b(batch)
    """.format(
        ks0=_ks_sql("event_id % 4 = 1", "event_id % 4 = 0"),
        ks1=_ks_sql("event_id % 4 = 2", "event_id % 4 = 0"),
        ks2=_ks_sql("event_id % 4 = 3", "event_id % 4 = 0"),
    ),
    doc="STREAMING drift monitor — the production observability loop: "
        "three deterministic micro-batches (explicit file->batch order "
        "via mtimes, maxFilesPerTrigger=1) each scored per-batch by "
        "foreachBatch against a STATIC reference distribution with the "
        "two-sample KS statistic (operators/scale.py ks_two_sample — "
        "the shared multi-value prefix sum), results appended to a "
        "metrics ledger exactly as a foreachBatch alerting consumer "
        "would. Engine-exact: each batch's KS is IEEE arithmetic over "
        "exact integer cumulative counts, so the oracle recomputes all "
        "three statistics in SQL and matches bit-for-bit.",
    tags=("streaming", "drift", "profiling"),
)
def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import ks_two_sample

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    ref = ev.filter(F.col("event_id") % 4 == 0).select("value").persist()
    ledger: list[tuple[int, int, float]] = []

    def score_batch(bdf: DataFrame, batch_id: int) -> None:
        r = ks_two_sample(bdf, ref, "value").collect()[0]
        ledger.append((int(batch_id), int(r["n_a"]), float(r["ks_stat"])))

    try:
        with tempfile.TemporaryDirectory(
            prefix="drift_", ignore_cleanup_errors=True
        ) as tmp:
            stage = f"{tmp}/stage"
            schema = stage_slices(stage, [
                (name, ev.filter(F.col("event_id") % 4 == k + 1).select("value"))
                for k, name in enumerate(("a.parquet", "b.parquet", "c.parquet"))
            ])
            run_batches(slice_stream(spark, stage, schema), f"{tmp}/ck", score_batch)
    finally:
        ref.unpersist()
    return spark.createDataFrame(
        ledger, "batch int, n_batch bigint, ks_stat double"
    )


@register(
    "q_stream_countmin",
    # identical oracle surface to q_countmin_sketch: cell-wise addition
    # of per-micro-batch sketches IS the global sketch (the mergeability
    # law CMS exists for), so the streamed-and-merged estimates must
    # equal the batch-computed ones VALUE-exactly
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
    doc="STREAMING count-min sketch: the events stream arrives as three "
        "deterministic micro-batches (staged files, maxFilesPerTrigger="
        "1); foreachBatch computes each batch's 4x64 sketch under the "
        "same Knuth arithmetic hashes as q_countmin_sketch and merges "
        "it into the running sketch by CELL-WISE ADDITION — the "
        "mergeability law that makes CMS the streaming frequency "
        "structure (no growing state: 256 counters forever, restart = "
        "re-add). The final merged estimates are VALUE-equal to the "
        "batch sketch over the whole stream, which is exactly what the "
        "oracle computes — the merge identity is the checked fact. "
        "Point probes are capped at user_id < 50 for the fixture.",
    tags=("streaming", "sketch", "frequency"),
)
def q_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import rows_ledger_commit, rows_ledger_read

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    _CMS_LEDGER_SCHEMA = "i int, bucket bigint, c bigint"

    with tempfile.TemporaryDirectory(
        prefix="cms_", ignore_cleanup_errors=True
    ) as tmp:
        stage, ledger_dir = f"{tmp}/stage", f"{tmp}/ledger"
        schema = stage_slices(stage, [
            (name, ev.filter(F.col("event_id") % 3 == k).select("user_id"))
            for k, name in enumerate(("a.parquet", "b.parquet", "c.parquet"))
        ])

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            # per-batch sketch is <= 256 rows — the bounded artifact;
            # cell-wise addition is the CMS merge operation. Addition
            # is NOT idempotent, so the persisted ledger's batch-id
            # generation check is what makes re-delivery safe.
            prev, applied = rows_ledger_read(spark, ledger_dir)
            if batch_id <= applied:
                return
            state = {(int(r["i"]), int(r["bucket"])): int(r["c"])
                     for r in prev}
            for r in (
                _cms_cells(bdf).groupBy("i", "bucket").count().collect()
            ):
                key = (int(r["i"]), int(r["bucket"]))
                state[key] = state.get(key, 0) + int(r["count"])
            rows_ledger_commit(
                spark, ledger_dir,
                [(i, b, c) for (i, b), c in sorted(state.items())],
                _CMS_LEDGER_SCHEMA, batch_id, applied_through=applied,
            )

        run_batches(slice_stream(spark, stage, schema), f"{tmp}/ck", merge_batch)
        final_rows, _ = rows_ledger_read(spark, ledger_dir)
        merged = {
            (int(r["i"]), int(r["bucket"])): int(r["c"]) for r in final_rows
        }
    sketch = spark.createDataFrame(
        [(i, b, c) for (i, b), c in sorted(merged.items())],
        "i int, bucket bigint, c bigint",
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


@register(
    "q_stream_countmin_restart",
    # the crash/restart discipline applied to the ADDITIVE sketch — the
    # merge where exactly-once application is load-bearing: a
    # re-delivered batch folded twice would inflate every touched cell
    # and break the value-replayed estimates below. Crash is injected
    # AFTER batch 2's ledger generation commits but BEFORE its offset
    # commits (state ahead of checkpoint, the worst ordering); the
    # restart's same-id re-delivery is refused by the generation check,
    # batch 3 folds once, and the final sketch is pinned CELL-EXACT
    # equal to an uninterrupted control run. Estimates are the same
    # full value replay as q_stream_countmin (Knuth arithmetic hashes),
    # so the oracle recomputes every one — corruption cannot hide.
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
    SELECT user_id, true_n, est, TRUE AS over_ok,
           TRUE AS restart_equal, TRUE AS redelivery_skipped
    FROM est WHERE user_id < 50
    """,
    doc="Kill/restart discipline for the streaming count-min monitor: "
        "the 3-batch stream runs once crashed by an injected "
        "foreachBatch failure AFTER batch 2's generation commits "
        "(rows_ledger_commit) but BEFORE its offset commits, then "
        "restarted from the checkpoint — the re-delivered batch is "
        "refused by the ledger's batch-id check (cell-wise addition is "
        "NOT idempotent; a double fold would inflate estimates) — and "
        "once uninterrupted as the control. Final sketch pinned "
        "cell-exact equal between the two runs; every point estimate "
        "value-replayed by the oracle.",
    tags=("streaming", "sketch", "checkpoint"),
)
def q_stream_countmin_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import rows_ledger_commit, rows_ledger_read

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    schema_str = "i int, bucket bigint, c bigint"
    skipped_batches: list[int] = []

    def run_stream(root: str, crash_after_batch: int | None) -> None:
        ledger_dir = f"{root}/ledger"

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            prev, applied = rows_ledger_read(spark, ledger_dir)
            if batch_id <= applied:
                skipped_batches.append(batch_id)
                return
            state = {(int(r["i"]), int(r["bucket"])): int(r["c"])
                     for r in prev}
            for r in (
                _cms_cells(bdf).groupBy("i", "bucket").count().collect()
            ):
                key = (int(r["i"]), int(r["bucket"]))
                state[key] = state.get(key, 0) + int(r["count"])
            rows_ledger_commit(
                spark, ledger_dir,
                [(i, b, c) for (i, b), c in sorted(state.items())],
                schema_str, batch_id, applied_through=applied,
            )
            if batch_id == crash_after_batch:
                raise RuntimeError("injected crash after ledger commit")

        run_batches(
            slice_stream(spark, stage, schema), f"{root}/ck", merge_batch,
            crash_injected=crash_after_batch is not None,
        )

    with tempfile.TemporaryDirectory(
        prefix="cmsr_", ignore_cleanup_errors=True
    ) as tmp:
        stage, roots = f"{tmp}/stage", [f"{tmp}/run0", f"{tmp}/run1"]
        schema = stage_slices(stage, [
            (name, ev.filter(F.col("event_id") % 3 == k).select("user_id"))
            for k, name in enumerate(("a.parquet", "b.parquet", "c.parquet"))
        ])
        run_stream(roots[0], crash_after_batch=1)
        run_stream(roots[0], crash_after_batch=None)
        run_stream(roots[1], crash_after_batch=None)
        rows_a, gen_a = rows_ledger_read(spark, f"{roots[0]}/ledger")
        rows_b, gen_b = rows_ledger_read(spark, f"{roots[1]}/ledger")

    cells_a = {(int(r["i"]), int(r["bucket"])): int(r["c"]) for r in rows_a}
    cells_b = {(int(r["i"]), int(r["bucket"])): int(r["c"]) for r in rows_b}
    restart_equal = cells_a == cells_b
    redelivery_ok = skipped_batches == [1] and gen_a == gen_b == 2

    sketch = spark.createDataFrame(
        [(i, b, c) for (i, b), c in sorted(cells_a.items())], schema_str
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
        F.lit(bool(restart_equal)).alias("restart_equal"),
        F.lit(bool(redelivery_ok)).alias("redelivery_skipped"),
    )


@register(
    "q_stream_quantile_sketch",
    # same gate surface as q_quantile_sketch: the stream-merged sketch
    # must conserve weight EXACTLY (sum 2^level == COUNT(*) — merge
    # order never changes it) and land every probe estimate within the
    # rank-error bound. Incremental merge (((b0+b1)+b2)) and the batch
    # build may keep different internal items — both satisfy the bound;
    # the gate checks the law, not the item set.
    oracle="""
    SELECT CAST(q AS DOUBLE) AS q,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events
            WHERE value IS NOT NULL) AS n,
           TRUE AS weight_ok, TRUE AS rank_ok
    FROM (VALUES (0.01), (0.05), (0.25), (0.5), (0.75), (0.95), (0.99))
         t(q)
    """,
    doc="STREAMING mergeable quantile sketch: the events value stream "
        "arrives as three deterministic micro-batches (staged files, "
        "maxFilesPerTrigger=1); foreachBatch builds each batch's MRL "
        "collapse summary (operators/sketches.py — the bounded "
        "artifact, <= k*levels rows) and folds it into the running "
        "sketch with the SAME merge the batch build uses — the "
        "closure-under-merge property that lets a latency/price "
        "percentile monitor run forever in O(k log n) state. Since "
        "round 9 the running sketch is PERSISTED (sketch_ledger_apply: "
        "generation-per-batch parquet, batch-id idempotent), so "
        "restart = re-merge from the ledger — the recovery discipline "
        "q_stream_percentile_restart exercises with a real crash. "
        "Weight conservation and the 0.05 rank-error bound "
        "are asserted against the whole stream, q_stream_countmin "
        "pattern with collapse-merge for +.",
    tags=("streaming", "sketch", "quantile"),
)
def q_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        collect_sketch,
        quantile_sketch_rows,
        sketch_ledger_apply,
        sketch_ledger_read,
    )
    from .profiling import _mrl_rank_audit

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("double").alias("value")
    ).filter(F.col("value").isNotNull())

    with tempfile.TemporaryDirectory(
        prefix="qsk_", ignore_cleanup_errors=True
    ) as tmp:
        stage, ledger_dir = f"{tmp}/stage", f"{tmp}/ledger"
        schema = stage_slices(stage, [
            (name, ev.filter(F.col("event_id") % 3 == k).select("value"))
            for k, name in enumerate(("a.parquet", "b.parquet", "c.parquet"))
        ])

        def merge_batch(bdf, batch_id: int) -> None:
            # per-batch sketch is <= k*levels rows — the bounded
            # artifact; collapse-merge is the sketch's + operation,
            # persisted as an idempotent batch-id generation commit
            # (restart = re-merge from the ledger, never raw history)
            batch_sketch = collect_sketch(
                quantile_sketch_rows(bdf, "value")
            )
            sketch_ledger_apply(
                spark, ledger_dir, {"all": batch_sketch}, batch_id
            )

        run_batches(slice_stream(spark, stage, schema), f"{tmp}/ck", merge_batch)
        state, _ = sketch_ledger_read(spark, ledger_dir)
        merged = state.get("all", {})
    return _mrl_rank_audit(ev.select("value"), merged)


@register(
    "q_stream_percentile_monitor",
    # the latency-dashboard composition of the round-8 sketch family:
    # per-WINDOW mergeable percentile state maintained incrementally in
    # foreachBatch (the q_stream_drift_monitor ledger pattern with a
    # sketch instead of a statistic). Per-window weight is a TRUE
    # cross-engine COUNT pin; estimates gated by rank error vs the
    # whole-stream exact ranks.
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS win,
           CAST(t.q AS DOUBLE) AS q,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS weight_ok, TRUE AS rank_ok
    FROM events CROSS JOIN (VALUES (0.5), (0.95), (0.99)) t(q)
    WHERE value IS NOT NULL
    GROUP BY 1, t.q
    """,
    doc="STREAMING per-window percentile monitor (p50/p95/p99 of the "
        "events value by day): the stream arrives as three "
        "deterministic micro-batches; foreachBatch builds each batch's "
        "PER-WINDOW MRL sketches (operators/sketches.py "
        "grouped_quantile_sketch_rows — bounded: windows x k x levels "
        "rows) and collapse-merges them into a PERSISTED per-window "
        "ledger (sketch_ledger_apply: generation-per-batch parquet, "
        "_SUCCESS-committed, batch-id idempotent) — O(windows x k "
        "log n) durable state however long the stream runs, late data "
        "for any window folds in by the same merge, restart = re-merge "
        "from the ledger (exercised end-to-end with a mid-stream crash "
        "by q_stream_percentile_restart). Weight == per-window COUNT "
        "(cross-engine) and 0.05 rank error asserted per (window, "
        "probe) against the whole stream.",
    tags=("streaming", "sketch", "quantile", "monitor"),
)
def q_stream_percentile_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        collect_grouped_sketch,
        grouped_quantile_sketch_rows,
        mrl_quantiles,
        mrl_total_weight,
        sketch_ledger_apply,
        sketch_ledger_read,
    )

    probes = (0.5, 0.95, 0.99)
    eps = 0.05
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "win"
        ),
        F.col("value").cast("double").alias("value"),
    ).filter(F.col("value").isNotNull())

    with tempfile.TemporaryDirectory(
        prefix="pmon_", ignore_cleanup_errors=True
    ) as tmp:
        stage, ledger_dir = f"{tmp}/stage", f"{tmp}/ledger"
        schema = stage_slices(stage, [
            (name, ev.filter(F.col("event_id") % 3 == k).select("win", "value"))
            for k, name in enumerate(("a.parquet", "b.parquet", "c.parquet"))
        ])

        def merge_batch(bdf, batch_id: int) -> None:
            # per-batch per-window sketches: the bounded artifact the
            # ledger ingests; collapse-merge is the + of the monitor,
            # persisted as an idempotent batch-id generation commit
            batch_sketches = collect_grouped_sketch(
                grouped_quantile_sketch_rows(bdf, "win", "value")
            )
            sketch_ledger_apply(spark, ledger_dir, batch_sketches, batch_id)

        run_batches(slice_stream(spark, stage, schema), f"{tmp}/ck", merge_batch)
        ledger, _ = sketch_ledger_read(spark, ledger_dir)

    # audit: broadcast the (win, q, est) probe table, one join + one
    # grouped aggregate over the raw stream data
    probe_rows = []
    for win in sorted(ledger):
        w = mrl_total_weight(ledger[win])
        for qq, est in mrl_quantiles(ledger[win], list(probes)):
            probe_rows.append((win, float(qq), float(est), int(w)))
    pdf = spark.createDataFrame(
        probe_rows, "win string, q double, est double, w bigint"
    )
    joined = ev.select("win", "value").join(F.broadcast(pdf), "win")
    return (
        joined.groupBy("win", "q", "est", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("value") <= F.col("est")).cast("bigint")).alias(
                "le"
            ),
            F.sum((F.col("value") < F.col("est")).cast("bigint")).alias(
                "lt"
            ),
        )
        .select(
            "win",
            "q",
            "n",
            (F.col("w") == F.col("n")).alias("weight_ok"),
            (
                (F.col("le") >= (F.col("q") - eps) * F.col("n"))
                & (F.col("lt") <= (F.col("q") + eps) * F.col("n"))
            ).alias("rank_ok"),
        )
    )


@register(
    "q_stream_percentile_restart",
    # restart-proofness of the persisted percentile ledger, exercised
    # for real: the monitor run is CRASHED after batch 2 of 3 commits
    # its generation (a foreachBatch exception AFTER the ledger write —
    # the worst-ordered failure, state ahead of the checkpoint), then
    # restarted from the same checkpoint. The micro-batch engine
    # re-delivers the uncommitted batch with the same id; the ledger's
    # generation check SKIPS the re-merge (MRL merge is not idempotent
    # — a double-fold would double the window's weight and fail the
    # cross-engine weight pin), batch 3 folds in normally, and every
    # (window, probe) estimate is pinned VALUE-EQUAL to an
    # uninterrupted control run. n is a TRUE cross-engine COUNT pin so
    # the gate cannot pass vacuously.
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS win,
           CAST(t.q AS DOUBLE) AS q,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS weight_ok, TRUE AS rank_ok,
           TRUE AS restart_equal, TRUE AS redelivery_skipped
    FROM events CROSS JOIN (VALUES (0.5), (0.95), (0.99)) t(q)
    WHERE value IS NOT NULL
    GROUP BY 1, t.q
    """,
    doc="Kill/restart discipline for the streaming percentile monitor "
        "(q_stream_exactly_once applied to sketch state): the same "
        "3-batch stream runs twice — once crashed by an injected "
        "foreachBatch failure AFTER batch 2's ledger generation "
        "commits but BEFORE its checkpoint offset commits, then "
        "restarted from the checkpoint (same-id re-delivery is "
        "detected by sketch_ledger_apply's generation comparison and "
        "skipped; only batch 3 merges) — and once uninterrupted as "
        "the control. Recovery reads ONLY the persisted ledger "
        "(bounded: windows x k x levels rows), never raw history. "
        "Emitted facts: per-(window, probe) estimate equality between "
        "the crashed+restarted and control ledgers (exact — identical "
        "per-batch sketches folded in identical order), the weight == "
        "COUNT cross-engine pin, the 0.05 rank-error law, and that "
        "exactly one re-delivery was skipped (batch id 1).",
    tags=("streaming", "sketch", "quantile", "checkpoint"),
)
def q_stream_percentile_restart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.sketches import (
        collect_grouped_sketch,
        grouped_quantile_sketch_rows,
        mrl_quantiles,
        mrl_total_weight,
        sketch_ledger_apply,
        sketch_ledger_read,
    )

    probes = (0.5, 0.95, 0.99)
    eps = 0.05
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "win"
        ),
        F.col("value").cast("double").alias("value"),
    ).filter(F.col("value").isNotNull())
    skipped_batches: list[int] = []

    def run_stream(root: str, crash_after_batch: int | None) -> None:
        ledger_dir = f"{root}/ledger"

        def merge_batch(bdf, batch_id: int) -> None:
            batch_sketches = collect_grouped_sketch(
                grouped_quantile_sketch_rows(bdf, "win", "value")
            )
            applied = sketch_ledger_apply(
                spark, ledger_dir, batch_sketches, batch_id
            )
            if not applied:
                skipped_batches.append(batch_id)
            # the injected failure: state committed, offset not — the
            # ordering that forces the restart down the skip path
            if applied and batch_id == crash_after_batch:
                raise RuntimeError("injected crash after ledger commit")

        run_batches(
            slice_stream(spark, stage, schema), f"{root}/ck", merge_batch,
            crash_injected=crash_after_batch is not None,
        )

    with tempfile.TemporaryDirectory(
        prefix="prst_", ignore_cleanup_errors=True
    ) as tmp:
        stage, roots = f"{tmp}/stage", [f"{tmp}/run0", f"{tmp}/run1"]
        schema = stage_slices(stage, [
            (name, ev.filter(F.col("event_id") % 3 == k).select("win", "value"))
            for k, name in enumerate(("a.parquet", "b.parquet", "c.parquet"))
        ])
        # crashed run + restart from the same checkpoint
        run_stream(roots[0], crash_after_batch=1)
        run_stream(roots[0], crash_after_batch=None)
        # uninterrupted control
        run_stream(roots[1], crash_after_batch=None)
        restarted, gen_a = sketch_ledger_read(spark, f"{roots[0]}/ledger")
        control, gen_b = sketch_ledger_read(spark, f"{roots[1]}/ledger")

    # exactly one skipped re-delivery, and it was the crashed batch;
    # both ledgers applied through the final batch id
    redelivery_ok = skipped_batches == [1] and gen_a == gen_b == 2

    probe_rows = []
    for win in sorted(control):
        w = mrl_total_weight(restarted[win])
        ests_r = dict(mrl_quantiles(restarted[win], list(probes)))
        ests_c = dict(mrl_quantiles(control[win], list(probes)))
        for qq in probes:
            probe_rows.append(
                (
                    win,
                    float(qq),
                    float(ests_r[qq]),
                    int(w),
                    bool(ests_r[qq] == ests_c[qq]),
                )
            )
    pdf = spark.createDataFrame(
        probe_rows,
        "win string, q double, est double, w bigint, r_eq boolean",
    )
    joined = ev.select("win", "value").join(F.broadcast(pdf), "win")
    return (
        joined.groupBy("win", "q", "est", "w", "r_eq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("value") <= F.col("est")).cast("bigint")).alias(
                "le"
            ),
            F.sum((F.col("value") < F.col("est")).cast("bigint")).alias(
                "lt"
            ),
        )
        .select(
            "win",
            "q",
            "n",
            (F.col("w") == F.col("n")).alias("weight_ok"),
            (
                (F.col("le") >= (F.col("q") - eps) * F.col("n"))
                & (F.col("lt") <= (F.col("q") + eps) * F.col("n"))
            ).alias("rank_ok"),
            F.col("r_eq").alias("restart_equal"),
            F.lit(bool(redelivery_ok)).alias("redelivery_skipped"),
        )
    )


@register(
    "q_stream_kmv",
    # the KMV merge is LOSSLESS (k smallest of the per-batch k-sets ==
    # k smallest of the whole stream's hashes), so the stream-merged
    # estimate is VALUE-equal to the batch sketch — the merge identity
    # is the checked fact, exactly the q_stream_countmin pattern with
    # k-smallest-union for +.
    oracle="""
    WITH ak AS (SELECT DISTINCT o_custkey AS key FROM orders
                WHERE o_custkey IS NOT NULL),
    ah AS (SELECT DISTINCT CAST((CAST(key AS HUGEINT) * 2654435761 + 1)
                                % 2147483647 AS BIGINT) AS h FROM ak),
    sa AS (SELECT h FROM ah ORDER BY h LIMIT 64),
    ca AS (SELECT COUNT(*) AS n FROM ah),
    ea AS (SELECT COUNT(*) AS n FROM ak)
    SELECT 'orders_stream' AS scope,
           CAST((SELECT n FROM ea) AS BIGINT) AS exact_distinct,
           ROUND(CASE WHEN (SELECT n FROM ca) < 64
                 THEN CAST((SELECT n FROM ca) AS DOUBLE)
                 ELSE 63.0 * 2147483647 / (SELECT MAX(h) FROM sa) END, 9)
             AS est
    """,
    doc="STREAMING KMV distinct-count: the orders custkey stream "
        "arrives as three deterministic micro-batches; foreachBatch "
        "builds each batch's 64-value KMV sketch (the bounded "
        "artifact) and merges it into the running sketch by "
        "k-smallest-of-union — constant state forever, restart = "
        "re-merge, and the merge is LOSSLESS so the final estimate "
        "value-equals the whole-stream batch sketch, which is exactly "
        "what the oracle replays. Completes the sketch family's "
        "streaming twins (CMS add / Bloom OR / MRL collapse / KMV "
        "k-smallest).",
    tags=("streaming", "sketch", "distinct"),
)
def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        KMV_K,
        KMV_P,
        kmv_merge,
        kmv_sketch,
        rows_ledger_commit,
        rows_ledger_read,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("key")
    )

    with tempfile.TemporaryDirectory(
        prefix="kmv_", ignore_cleanup_errors=True
    ) as tmp:
        stage, ledger_dir = f"{tmp}/stage", f"{tmp}/ledger"
        schema = stage_slices(stage, [
            (name, orders.filter(F.col("o_orderkey") % 3 == k).select("key"))
            for k, name in enumerate(("a.parquet", "b.parquet", "c.parquet"))
        ])

        def merge_batch(bdf, batch_id: int) -> None:
            # persisted generation ledger (rows: the k smallest hashes
            # plus one 'n' row carrying the union's distinct-hash
            # count) — restart = re-merge, re-delivery skipped
            prev, applied = rows_ledger_read(spark, ledger_dir)
            if batch_id <= applied:
                return
            state = (
                sorted(int(r["v"]) for r in prev if r["kind"] == "h"),
                next((int(r["v"]) for r in prev if r["kind"] == "n"), 0),
            )
            vals, n = kmv_merge([state, kmv_sketch(bdf, "key")])
            rows_ledger_commit(
                spark, ledger_dir,
                [("h", v) for v in vals] + [("n", n)],
                "kind string, v long", batch_id, applied_through=applied,
            )

        run_batches(slice_stream(spark, stage, schema), f"{tmp}/ck", merge_batch)
        final_rows, _ = rows_ledger_read(spark, ledger_dir)
        merged = (
            sorted(int(r["v"]) for r in final_rows if r["kind"] == "h"),
            next((int(r["v"]) for r in final_rows if r["kind"] == "n"), 0),
        )

    # null keys excluded on both engines (kmv_sketch drops null hashes;
    # the oracle's key CTE now pins the same convention)
    exact = (
        orders.select("key").filter(F.col("key").isNotNull())
        .distinct().count()
    )
    vals, n = merged
    if n < KMV_K:
        num, den = float(n), 1
    else:
        num, den = 63.0 * KMV_P, vals[KMV_K - 1]
    out = spark.createDataFrame(
        [("orders_stream", exact, num, den)],
        "scope string, exact_distinct long, num double, den long",
    )
    return out.select(
        "scope",
        "exact_distinct",
        F.round(F.col("num") / F.col("den"), 9).alias("est"),
    )


@register(
    "q_stream_bloom_filter",
    # identical oracle surface to q_bloom_semijoin: word tables built on
    # key SLICES merge to the whole-set table by cell-wise bitwise OR
    # (the Bloom merge law), so the stream-merged filter's audit row is
    # VALUE-equal to the batch one — the merge identity is the checked
    # fact, exactly the q_stream_countmin pattern with OR for +.
    oracle=None,  # set below to the shared BLOOM_AUDIT_ORACLE
    doc="STREAMING Bloom-filter build: the BUILDING-segment customer "
        "keys arrive as three deterministic micro-batches (staged "
        "files, maxFilesPerTrigger=1); foreachBatch builds each "
        "batch's (word, w) bitmap table under the same Knuth "
        "arithmetic hashes as q_bloom_semijoin (at most m/32 = 2048 "
        "rows per batch, the bounded artifact) and merges it into the "
        "running filter by CELL-WISE BITWISE OR — no growing state: "
        "one bitmap forever, restart = re-OR, the property that makes "
        "Bloom filters buildable incrementally while a dimension "
        "table streams in. The merged filter then runs the SAME "
        "order-probe audit as the batch query, and because OR-merge "
        "of slice tables IS the whole-set table, the audit row is "
        "value-equal to q_bloom_semijoin's — which is exactly what "
        "the shared oracle computes.",
    tags=("streaming", "join", "bloom"),
)
def q_stream_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import bloom_words
    from ..operators.sketches import rows_ledger_commit, rows_ledger_read
    from .relational6 import bloom_audit_frame

    m_bits = 65536
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )

    with tempfile.TemporaryDirectory(
        prefix="bloom_", ignore_cleanup_errors=True
    ) as tmp:
        stage, ledger_dir = f"{tmp}/stage", f"{tmp}/ledger"
        schema = stage_slices(stage, [
            (name, dim.filter(F.col("c_custkey") % 3 == k))
            for k, name in enumerate(("a.parquet", "b.parquet", "c.parquet"))
        ])

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            # per-batch word table is <= m/32 rows — the bounded
            # artifact; bitwise OR is the Bloom merge operation (OR is
            # idempotent, but the persisted generation ledger still
            # carries the crash-safety and restart = re-merge story)
            prev, applied = rows_ledger_read(spark, ledger_dir)
            if batch_id <= applied:
                return
            state = {int(r["word"]): int(r["w"]) for r in prev}
            for r in bloom_words(bdf, "c_custkey", m_bits).collect():
                w = int(r["word"])
                state[w] = state.get(w, 0) | int(r["w"])
            rows_ledger_commit(
                spark, ledger_dir, sorted(state.items()),
                "word long, w long", batch_id, applied_through=applied,
            )

        run_batches(slice_stream(spark, stage, schema), f"{tmp}/ck", merge_batch)
        final_rows, _ = rows_ledger_read(spark, ledger_dir)
        merged = {int(r["word"]): int(r["w"]) for r in final_rows}

    words = spark.createDataFrame(
        sorted(merged.items()), "word long, w long"
    )
    return bloom_audit_frame(orders, dim, words=words, m_bits=m_bits)


# attach the shared oracle (defined next to the batch query): the
# streaming merge must reproduce the batch filter bit-for-bit, so the
# SAME SQL replay grades both
def _attach_bloom_oracle() -> None:
    from .relational6 import BLOOM_AUDIT_ORACLE
    from .registry import _REGISTRY

    _REGISTRY["q_stream_bloom_filter"].oracle = BLOOM_AUDIT_ORACLE


_attach_bloom_oracle()


@register(
    "q_stream_monitor_suite",
    # Round 10: the COMPOSED forever-monitor — ONE stream feeds the
    # MRL (percentile), CMS (frequency) and KMV (distinct) ledgers in
    # a single foreachBatch, with one injected crash at the nastiest
    # point a composite can tear: AFTER batch 1's MRL and CMS
    # generations commit but BEFORE its KMV commit (state torn ACROSS
    # families, each family's ledger ahead of or behind the
    # checkpoint). The restart re-delivers batch 1; per-family
    # batch-id idempotence heals the tear asymmetrically — MRL and
    # CMS refuse the re-delivery, KMV applies it — and every family's
    # final state is pinned value-equal to an uninterrupted control
    # run. The crashed run rides the MANIFEST generation protocol and
    # the control the directory listing, so the same equality also
    # pins cross-protocol equivalence through a real crash/restart. Cross-engine pins per family: MRL weight == COUNT(value),
    # CMS row-mass == COUNT(*) plus a fully-replayed point estimate
    # (Knuth hash chain), KMV exact distinct plus the replayed
    # estimate. The production observability stack as one query.
    oracle="""
    WITH seeds(i, a, b) AS (
      VALUES (0, 2654435761, 1), (1, 2246822519, 7),
             (2, 3266489917, 31), (3, 668265263, 127)
    ), cells AS (
      SELECT s.i,
             CAST(((CAST(e.user_id AS HUGEINT) * s.a + s.b)
                   % 2147483647) % 64 AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events e CROSS JOIN seeds s GROUP BY 1, 2
    ), probe AS (
      SELECT s.i,
             CAST(((CAST(0 AS HUGEINT) * s.a + s.b)
                   % 2147483647) % 64 AS BIGINT) AS bucket
      FROM seeds s
    ), est0 AS (
      SELECT MIN(COALESCE(c.c, 0)) AS est
      FROM probe p LEFT JOIN cells c USING (i, bucket)
    ), ah AS (
      SELECT DISTINCT CAST((CAST(user_id AS HUGEINT) * 2654435761 + 1)
                           % 2147483647 AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL
    ), kn AS (SELECT COUNT(*) AS n FROM ah),
    k64 AS (SELECT MAX(h) AS h64
            FROM (SELECT h FROM ah ORDER BY h LIMIT 64))
    SELECT 'cms' AS family,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n,
           (SELECT CAST(est AS DOUBLE) FROM est0) AS est,
           TRUE AS fact_ok, TRUE AS restart_equal, TRUE AS redelivery_ok
    UNION ALL
    SELECT 'kmv',
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
            WHERE user_id IS NOT NULL),
           (SELECT ROUND(CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                  ELSE 63.0 * 2147483647 / (SELECT h64 FROM k64) END, 9)
            FROM kn),
           TRUE, TRUE, TRUE
    UNION ALL
    SELECT 'mrl',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events
            WHERE value IS NOT NULL),
           NULL, TRUE, TRUE, TRUE
    """,
    doc="Composed streaming monitor suite: one events stream feeds "
        "three sketch-family ledgers (MRL percentiles per day window, "
        "CMS user-frequency, KMV distinct users) inside a single "
        "foreachBatch — the full observability stack a production "
        "ingestion pipeline hangs off one stream. One injected crash "
        "tears batch 1 ACROSS families (MRL+CMS committed, KMV not); "
        "after restart each family heals independently via its "
        "ledger's batch-id check (MRL/CMS refuse the re-delivery, KMV "
        "applies it) and all three final states are value-equal to an "
        "uninterrupted control run. Per-family cross-engine pins: "
        "weight/mass conservation and fully-replayed CMS point + KMV "
        "distinct estimates. Recovery reads only the bounded ledgers.",
    tags=("streaming", "sketch", "checkpoint", "pipeline"),
)
def q_stream_monitor_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import (
        KMV_K,
        KMV_P,
        collect_grouped_sketch,
        grouped_quantile_sketch_rows,
        kmv_merge,
        kmv_sketch,
        mrl_total_weight,
        rows_ledger_commit,
        rows_ledger_read,
        sketch_ledger_apply,
        sketch_ledger_read,
    )

    cms_schema = "i int, bucket bigint, c bigint"

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "win"
        ),
        F.col("value").cast("double").alias("value"),
    )
    skipped: dict[str, list[int]] = {"mrl": [], "cms": [], "kmv": []}

    def run_stream(root: str, crash_in_batch: int | None) -> None:
        proto = protocols[root]

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            bdf.persist()  # three family readers share one batch scan
            # family 1: grouped MRL percentile ledger
            sk = collect_grouped_sketch(
                grouped_quantile_sketch_rows(
                    bdf.filter(F.col("value").isNotNull()), "win", "value"
                )
            )
            if not sketch_ledger_apply(
                spark, f"{root}/mrl", sk, batch_id, protocol=proto
            ):
                skipped["mrl"].append(batch_id)
            # family 2: additive CMS ledger
            prev, applied = rows_ledger_read(
                spark, f"{root}/cms", protocol=proto
            )
            if batch_id <= applied:
                skipped["cms"].append(batch_id)
            else:
                state = {(int(r["i"]), int(r["bucket"])): int(r["c"])
                         for r in prev}
                for r in (
                    _cms_cells(bdf).groupBy("i", "bucket").count().collect()
                ):
                    key = (int(r["i"]), int(r["bucket"]))
                    state[key] = state.get(key, 0) + int(r["count"])
                rows_ledger_commit(
                    spark, f"{root}/cms",
                    [(i, b, c) for (i, b), c in sorted(state.items())],
                    cms_schema, batch_id, applied_through=applied,
                    protocol=proto,
                )
            # the injected crash: TORN ACROSS FAMILIES — MRL and CMS
            # committed this batch, KMV has not
            if batch_id == crash_in_batch:
                raise RuntimeError("injected crash between family commits")
            # family 3: KMV k-smallest-union ledger
            prev, applied = rows_ledger_read(
                spark, f"{root}/kmv", protocol=proto
            )
            if batch_id <= applied:
                skipped["kmv"].append(batch_id)
            else:
                state = (
                    sorted(int(r["v"]) for r in prev if r["kind"] == "h"),
                    next(
                        (int(r["v"]) for r in prev if r["kind"] == "n"), 0
                    ),
                )
                vals, n = kmv_merge(
                    [
                        state,
                        kmv_sketch(
                            bdf.filter(F.col("user_id").isNotNull()),
                            "user_id",
                        ),
                    ]
                )
                rows_ledger_commit(
                    spark, f"{root}/kmv",
                    [("h", v) for v in vals] + [("n", n)],
                    "kind string, v long", batch_id,
                    applied_through=applied, protocol=proto,
                )
            bdf.unpersist()

        run_batches(
            slice_stream(spark, stage, schema), f"{root}/ck", merge_batch,
            crash_injected=crash_in_batch is not None,
        )

    with tempfile.TemporaryDirectory(
        prefix="suite_", ignore_cleanup_errors=True
    ) as tmp:
        stage, roots = f"{tmp}/stage", [f"{tmp}/run0", f"{tmp}/run1"]
        # the crashed run rides the MANIFEST generation protocol (the
        # object-store-safe variant) and the control rides the default
        # directory listing — so the final value-equality pin ALSO pins
        # cross-protocol equivalence through a real crash/restart
        protocols = {roots[0]: "manifest", roots[1]: "listing"}
        # two slices, not three: every pinned output (exact counts, CMS
        # point estimate, KMV distinct estimate) is a full-table value,
        # independent of how the stream is sliced — so the micro-batch
        # count is pure fixed overhead. 2 files drop the suite from 7
        # foreachBatch invocations (crash 2 + restart 2 + control 3) to
        # 5 (2+1+2) while still exercising the identical tear: batch 0
        # fully committed, batch 1 torn across families, re-delivered
        # once on restart. ~30% of the 113s sf0.1 oracle budget was
        # this overhead (the r10 verdict's headroom item). The two
        # slice writes run concurrently (stage_slices).
        schema = stage_slices(stage, [
            (name, ev.filter(F.col("event_id") % 2 == k).select(
                "user_id", "win", "value"
            ))
            for k, name in enumerate(("a.parquet", "b.parquet"))
        ])
        # Round-13 (guide §2.6 — overlap independent jobs): the control
        # run (own root, listing protocol) shares nothing with the
        # crash->restart chain (its root + manifest ledgers) except the
        # read-only stage files, so it streams concurrently; the
        # crash->restart pair stays strictly sequential (same
        # checkpoint + ledgers). `skipped` appends stay correct: the
        # control run never skips (fresh root, no re-delivery), so only
        # the restart run writes.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=2) as pool:

            def crash_then_restart() -> None:
                run_stream(roots[0], crash_in_batch=1)
                run_stream(roots[0], crash_in_batch=None)

            fc = pool.submit(inheritable_thread_target(spark)(crash_then_restart))
            fctrl = pool.submit(
                inheritable_thread_target(spark)(
                    lambda: run_stream(roots[1], crash_in_batch=None)
                )
            )
            fc.result(), fctrl.result()

        finals = {}
        for tag, root in (("crash", roots[0]), ("ctrl", roots[1])):
            proto = protocols[root]
            mrl_state, mrl_gen = sketch_ledger_read(
                spark, f"{root}/mrl", protocol=proto
            )
            cms_rows, cms_gen = rows_ledger_read(
                spark, f"{root}/cms", protocol=proto
            )
            kmv_rows, kmv_gen = rows_ledger_read(
                spark, f"{root}/kmv", protocol=proto
            )
            finals[tag] = {
                "mrl": (
                    {
                        g: sorted(
                            (lvl, tuple(v.tolist()))
                            for lvl, v in sk.items()
                        )
                        for g, sk in mrl_state.items()
                    },
                    mrl_gen,
                ),
                "mrl_weight": sum(
                    mrl_total_weight(sk) for sk in mrl_state.values()
                ),
                "cms": (
                    sorted(
                        (int(r["i"]), int(r["bucket"]), int(r["c"]))
                        for r in cms_rows
                    ),
                    cms_gen,
                ),
                "kmv": (
                    sorted(
                        (r["kind"], int(r["v"])) for r in kmv_rows
                    ),
                    kmv_gen,
                ),
            }

    # exact counts (distributed; the oracle recomputes all three) —
    # ONE aggregate job instead of three separate count() actions
    counts = ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("value").alias("n_values"),
        F.countDistinct("user_id").alias("n_users"),
    ).first()
    n_events = int(counts["n_events"])
    n_values = int(counts["n_values"])
    n_users = int(counts["n_users"])

    cms_state = dict(
        ((i, b), c) for i, b, c in finals["crash"]["cms"][0]
    )
    row_sums = {}
    for (i, _b), c in cms_state.items():
        row_sums[i] = row_sums.get(i, 0) + c
    cms_mass_ok = all(
        row_sums.get(i, 0) == n_events for i in range(len(_CMS_SEEDS))
    )
    cms_est0 = min(
        cms_state.get((i, (0 * a + b) % _CMS_P % _CMS_W), 0)
        for i, a, b in _CMS_SEEDS
    )

    kmv_vals = [v for k_, v in finals["crash"]["kmv"][0] if k_ == "h"]
    kmv_n = next(v for k_, v in finals["crash"]["kmv"][0] if k_ == "n")
    if kmv_n < KMV_K:
        kmv_num, kmv_den = float(kmv_n), 1
    else:
        kmv_num, kmv_den = 63.0 * KMV_P, kmv_vals[KMV_K - 1]

    rows = [
        (
            "cms",
            int(n_events),
            float(cms_est0),
            bool(cms_mass_ok),
            bool(finals["crash"]["cms"] == finals["ctrl"]["cms"]),
            bool(skipped["cms"] == [1]),
        ),
        (
            "kmv",
            int(n_users),
            round(kmv_num / kmv_den, 9),
            bool(kmv_n >= 0),
            bool(finals["crash"]["kmv"] == finals["ctrl"]["kmv"]),
            # KMV never committed batch 1 before the crash, so the
            # re-delivery legitimately APPLIES — zero skips is the pin
            bool(skipped["kmv"] == []),
        ),
        (
            "mrl",
            int(n_values),
            None,
            bool(finals["crash"]["mrl_weight"] == n_values),
            bool(finals["crash"]["mrl"] == finals["ctrl"]["mrl"]),
            bool(skipped["mrl"] == [1]),
        ),
    ]
    return spark.createDataFrame(
        rows,
        "family string, n bigint, est double, fact_ok boolean, "
        "restart_equal boolean, redelivery_ok boolean",
    )


@register(
    "q_stream_ivf_incremental",
    # Round 11 (r10 verdict item 5): the STREAMING twin of
    # q_ivf_incremental — train-once/maintain-forever for ANN, the way
    # the monitor suite completed it for sketches. Frozen IVF centroids
    # (trained on the snapshot, the persisted corpus-version artifact)
    # assign a STREAM of new embeddings in foreachBatch; per-centroid
    # counts + an exact scaled-integer cosine mass persist through the
    # generation ledger (manifest protocol — the object-store-safe
    # variant) and the retrain signal is computed FROM ledger state
    # after every commit. One crash is injected AFTER batch 0's ledger
    # commit but BEFORE the stream checkpoint records the batch — the
    # crash-after-commit window; the restart re-delivers batch 0 and
    # the ledger's batch-id idempotence REFUSES the double-apply. A
    # control run (listing protocol) never crashes; final states are
    # pinned value-equal, which also pins cross-protocol equivalence.
    # Batch 0 is the natural delta (uniform-random embeddings — the
    # signal must NOT fire); batch 1 is a constructed distribution
    # shift (every vector replaced by the all-ones direction, so the
    # whole batch collapses onto ONE centroid — max cumulative share
    # >= ~50% >> the 40% threshold, and the signal MUST fire). The
    # fired/not-fired pins are deterministic under fixed seeds and
    # verified at all three SFs; n_assigned / mass conservation are
    # true cross-engine counts so the gate cannot pass vacuously.
    oracle="""
    WITH valid AS (
      SELECT vec_id FROM embeddings
      WHERE list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    )
    SELECT 'after_batch_0' AS step,
           CAST((SELECT COUNT(*) FROM valid WHERE vec_id % 10 = 0)
                AS BIGINT) AS n_assigned,
           FALSE AS retrain_fired, TRUE AS mass_ok,
           TRUE AS restart_equal, TRUE AS redelivery_refused
    UNION ALL
    SELECT 'after_batch_1',
           CAST((SELECT COUNT(*) FROM valid WHERE vec_id % 10 = 0)
              + (SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 = 5)
                AS BIGINT),
           TRUE, TRUE, TRUE, TRUE
    """,
    doc="Streaming incremental IVF maintenance: frozen snapshot "
        "centroids assign a stream of new embeddings in foreachBatch; "
        "per-centroid counts and an exact integer cosine mass persist "
        "through the generation ledger (manifest protocol), and the "
        "retrain signal (max cumulative centroid share >= 40%) is "
        "computed from ledger state after every commit. A crash "
        "injected in the crash-after-commit window is healed by "
        "batch-id idempotence on restart (re-delivery refused), final "
        "state pinned value-equal to a listing-protocol control run. "
        "Batch 1 is a constructed distribution shift that collapses "
        "onto one centroid — the signal pin covers BOTH the quiet and "
        "the fired path. Completes train-once/maintain-forever for "
        "ANN: the recurring work is one broadcast map-side assignment "
        "per batch plus bounded ledger I/O (16 centroid rows).",
    tags=("streaming", "similarity", "ivf", "incremental", "checkpoint"),
)
def q_stream_ivf_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import (
        _with_valid_vectors,
        assign_ivf_partitions,
        cosine_similarity_expr,
        trained_ivf_centroids,
    )
    from ..operators.sketches import rows_ledger_commit, rows_ledger_read

    emb = load_table(spark, sf_dir, "embeddings")
    snap = emb.filter(F.col("vec_id") % 5 != 0)
    frozen = trained_ivf_centroids(snap, k=16, n_iter=3).localCheckpoint(
        eager=True
    )

    ledger_schema = "centroid_id long, n long, microcos long"

    # batch 0: the natural delta. batch 1: a constructed distribution
    # shift — every embedding replaced by the all-ones direction, so
    # cosine to each centroid is IDENTICAL across rows and the whole
    # batch lands on one argmax centroid (ties break to min id).
    natural = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    drifted = emb.filter(F.col("vec_id") % 10 == 5).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda _: F.lit(1.0).cast("float")
        ).alias("embedding"),
    )

    skipped: dict[str, list[int]] = {"run0": [], "run1": []}
    signals: dict[str, list[tuple[int, bool, int]]] = {
        "run0": [], "run1": []
    }
    # the crashed run rides the manifest protocol, the control the listing
    protocols = {"run0": "manifest", "run1": "listing"}

    def run_stream(run: str, crash_in_batch: int | None) -> None:
        proto = protocols[run]

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            ledger = f"{tmp}/{run}/ledger"
            prev, applied = rows_ledger_read(spark, ledger, protocol=proto)
            if batch_id <= applied:
                skipped[run].append(batch_id)
                return
            assigned = assign_ivf_partitions(
                _with_valid_vectors(bdf, "embedding"), frozen
            ).join(F.broadcast(frozen), "centroid_id")
            # exact integer accumulation: per-row cosine truncated to
            # micro-units (deterministic double -> bigint), summed —
            # order-independent, so the crash/control equality pin is
            # bit-safe
            batch_stats = assigned.groupBy("centroid_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(
                    (
                        cosine_similarity_expr(
                            F.col("embedding"), F.col("centroid")
                        )
                        * 1_000_000
                    ).cast("bigint")
                ).alias("microcos"),
            ).collect()
            state = {
                int(r["centroid_id"]): (int(r["n"]), int(r["microcos"]))
                for r in prev
            }
            for r in batch_stats:
                cid = int(r["centroid_id"])
                n0, m0 = state.get(cid, (0, 0))
                state[cid] = (n0 + int(r["n"]), m0 + int(r["microcos"]))
            rows_ledger_commit(
                spark, ledger,
                [(cid, n, m) for cid, (n, m) in sorted(state.items())],
                ledger_schema, batch_id, applied_through=applied,
                protocol=proto,
            )
            # retrain signal FROM the just-committed ledger state:
            # fired when one centroid holds >= 40% of all streamed
            # vectors (pure integer comparison)
            total = sum(n for n, _ in state.values())
            max_n = max(n for n, _ in state.values())
            signals[run].append((batch_id, max_n * 100 >= 40 * total,
                                 total))
            # the crash-after-commit window: the ledger generation is
            # committed, the stream checkpoint is not
            if batch_id == crash_in_batch:
                raise RuntimeError("injected crash after ledger commit")

        run_batches(
            slice_stream(spark, stage, schema), f"{tmp}/{run}/ck",
            merge_batch, crash_injected=crash_in_batch is not None,
        )

    with tempfile.TemporaryDirectory(
        prefix="ivf_", ignore_cleanup_errors=True
    ) as tmp:
        stage = f"{tmp}/stage"
        schema = stage_slices(
            stage, [("a.parquet", natural), ("b.parquet", drifted)]
        )
        run_stream("run0", crash_in_batch=0)
        run_stream("run0", crash_in_batch=None)
        run_stream("run1", crash_in_batch=None)

        finals = {}
        for run in protocols:
            rows, gen = rows_ledger_read(
                spark, f"{tmp}/{run}/ledger", protocol=protocols[run]
            )
            finals[run] = (
                sorted(
                    (int(r["centroid_id"]), int(r["n"]), int(r["microcos"]))
                    for r in rows
                ),
                gen,
            )

    n0 = natural.join(
        _with_valid_vectors(emb, "embedding").select("vec_id"), "vec_id",
        "left_semi",
    ).count()
    n1 = drifted.count()
    restart_equal = bool(finals["run0"] == finals["run1"])
    redelivery_refused = bool(
        skipped["run0"] == [0] and skipped["run1"] == []
    )
    ctrl = signals["run1"]
    mass0_ok = bool(ctrl[0][2] == n0)
    mass1_ok = bool(ctrl[1][2] == n0 + n1)
    rows = [
        (
            "after_batch_0", int(n0), bool(ctrl[0][1]), mass0_ok,
            restart_equal, redelivery_refused,
        ),
        (
            "after_batch_1", int(n0 + n1), bool(ctrl[1][1]), mass1_ok,
            restart_equal, redelivery_refused,
        ),
    ]
    return spark.createDataFrame(
        rows,
        "step string, n_assigned bigint, retrain_fired boolean, "
        "mass_ok boolean, restart_equal boolean, redelivery_refused "
        "boolean",
    )


@register(
    "q_stream_bm25_index",
    # Round 11: incremental retrieval-index maintenance — the
    # train-once/maintain-forever discipline applied to BM25. The
    # corpus arrives as a STREAM; each micro-batch folds its query-term
    # postings (doc_id, term, tf, dl — disjoint docs, so merge = union)
    # and its corpus statistics (n_docs, total_dl — additive exact
    # integers) into TWO generation ledgers; the final top-20 is scored
    # ENTIRELY from ledger state. Because every ledger value is an
    # exact integer and the scoring arithmetic mirrors q_bm25_topk's
    # (rational Robertson idf, identical parenthesization, decimal
    # accumulation), the incrementally-built index's scores are
    # BIT-EQUAL to a from-scratch batch build — so the oracle is the
    # full q_bm25_topk replay, a complete value pin, not a gate. One
    # crash is injected between the two ledgers' commits of batch 1
    # (stats committed, postings not — the torn-composite window); the
    # restart heals asymmetrically (stats refuses the re-delivery,
    # postings applies it) and the crashed index is pinned value-equal
    # to an uninterrupted control build (manifest vs listing protocol,
    # so the equality also pins cross-protocol equivalence).
    oracle=f"""
    WITH {_BM25_ORACLE_CORE}
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
             AS rank,
           TRUE AS restart_equal, TRUE AS stats_refused,
           TRUE AS postings_applied
    FROM bm ORDER BY score DESC, doc_id LIMIT 20
    """,
    doc="Streaming incremental BM25 index: micro-batches fold "
        "query-term postings and additive corpus statistics into two "
        "generation ledgers; the top-20 is scored from ledger state "
        "alone and is bit-equal to a from-scratch batch build (exact "
        "integer state + identical rational-idf arithmetic), so the "
        "whole ranking is value-replayed — the incremental-indexing "
        "production shape with a full oracle instead of a gate. A "
        "crash torn between the stats and postings commits is healed "
        "asymmetrically on restart and the result pinned equal to an "
        "uninterrupted control run. Recurring cost per batch: one "
        "query-term-pruned scan of the BATCH plus bounded ledger I/O.",
    tags=("streaming", "retrieval", "bm25", "incremental", "checkpoint"),
)
def q_stream_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import rows_ledger_commit, rows_ledger_read
    from .textmining import _BM25_K1, _BM25_B, _BM25_QUERY

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the crashed run rides the manifest protocol, the control the listing
    protocols = {"run0": "manifest", "run1": "listing"}
    skipped: dict[str, dict[str, list[int]]] = {
        r: {"stats": [], "post": []} for r in protocols
    }

    def run_stream(run: str, crash_in_batch: int | None) -> None:
        proto, root = protocols[run], f"{tmp}/{run}"

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            bdf.persist()
            # ledger 1: additive corpus statistics (exact integers)
            prev, applied = rows_ledger_read(
                spark, f"{root}/stats", protocol=proto
            )
            batch_stats = bdf.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.size(F.split(F.trim(F.col("text")), r"\s+"))
                ).alias("tot"),
            ).first()
            if batch_id <= applied:
                skipped[run]["stats"].append(batch_id)
            else:
                n0 = int(prev[0]["n_docs"]) if prev else 0
                t0 = int(prev[0]["total_dl"]) if prev else 0
                rows_ledger_commit(
                    spark, f"{root}/stats",
                    [(n0 + int(batch_stats["n"]),
                      t0 + int(batch_stats["tot"]))],
                    "n_docs long, total_dl long", batch_id,
                    applied_through=applied, protocol=proto,
                )
            # the torn-composite crash window: stats committed this
            # batch, postings have not
            if batch_id == crash_in_batch:
                bdf.unpersist()
                raise RuntimeError("injected crash between ledgers")
            # ledger 2: query-term postings (disjoint docs per batch,
            # so the merge is a plain union of exact integer rows)
            prev, applied = rows_ledger_read(
                spark, f"{root}/post", protocol=proto
            )
            if batch_id <= applied:
                skipped[run]["post"].append(batch_id)
            else:
                state = {
                    (int(r["doc_id"]), r["term"]): (int(r["tf"]),
                                                    int(r["dl"]))
                    for r in prev
                }
                batch_post = (
                    bdf.select(
                        "doc_id",
                        F.size(
                            F.split(F.trim(F.col("text")), r"\s+")
                        ).alias("dl"),
                        F.explode(
                            F.split(F.trim(F.col("text")), r"\s+")
                        ).alias("term"),
                    )
                    .filter(F.col("term").isin(*_BM25_QUERY))
                    .groupBy("doc_id", "dl", "term")
                    .agg(F.count(F.lit(1)).alias("tf"))
                ).collect()
                for r in batch_post:
                    state[(int(r["doc_id"]), r["term"])] = (
                        int(r["tf"]), int(r["dl"])
                    )
                rows_ledger_commit(
                    spark, f"{root}/post",
                    [
                        (d, t, tf, dl)
                        for (d, t), (tf, dl) in sorted(state.items())
                    ],
                    "doc_id long, term string, tf long, dl long",
                    batch_id, applied_through=applied, protocol=proto,
                )
            bdf.unpersist()

        run_batches(
            slice_stream(spark, stage, schema), f"{root}/ck", merge_batch,
            crash_injected=crash_in_batch is not None,
        )

    with tempfile.TemporaryDirectory(
        prefix="bm25_", ignore_cleanup_errors=True
    ) as tmp:
        stage = f"{tmp}/stage"
        schema = stage_slices(stage, [
            ("a.parquet", docs.filter(F.col("doc_id") % 2 == 0)),
            ("b.parquet", docs.filter(F.col("doc_id") % 2 == 1)),
        ])
        run_stream("run0", crash_in_batch=1)
        run_stream("run0", crash_in_batch=None)
        run_stream("run1", crash_in_batch=None)

        finals = {}
        for run, proto in protocols.items():
            root = f"{tmp}/{run}"
            srows, sgen = rows_ledger_read(
                spark, f"{root}/stats", protocol=proto
            )
            prows, pgen = rows_ledger_read(
                spark, f"{root}/post", protocol=proto
            )
            finals[run] = (
                sorted((int(r["n_docs"]), int(r["total_dl"]))
                       for r in srows),
                sgen,
                sorted(
                    (int(r["doc_id"]), r["term"], int(r["tf"]),
                     int(r["dl"]))
                    for r in prows
                ),
                pgen,
            )
        stats_rows, _ = rows_ledger_read(
            spark, f"{tmp}/run0/stats", protocol="manifest"
        )
        post_rows, _ = rows_ledger_read(
            spark, f"{tmp}/run0/post", protocol="manifest"
        )

    restart_equal = bool(finals["run0"] == finals["run1"])
    stats_refused = bool(
        skipped["run0"]["stats"] == [1] and skipped["run1"]["stats"] == []
    )
    postings_applied = bool(
        skipped["run0"]["post"] == [] and skipped["run1"]["post"] == []
    )

    # score ENTIRELY from ledger state, mirroring _bm25_scores_docs'
    # arithmetic exactly (same parenthesization, decimal accumulation)
    n_docs = int(stats_rows[0]["n_docs"])
    avgdl = int(stats_rows[0]["total_dl"]) / n_docs
    post = spark.createDataFrame(
        [
            (int(r["doc_id"]), r["term"], float(r["tf"]), int(r["dl"]))
            for r in post_rows
        ],
        "doc_id long, term string, tf double, dl long",
    )
    df_t = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    odds = (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    tfpart = (F.col("tf") * F.lit(_BM25_K1 + 1)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (
            F.lit(1 - _BM25_B)
            + F.lit(_BM25_B) * (F.col("dl").cast("double") / F.lit(avgdl))
        )
    )
    per_term = post.join(F.broadcast(df_t), "term").select(
        "doc_id", (odds * tfpart).alias("s")
    )
    bm = per_term.groupBy("doc_id").agg(
        F.round(dsum12(F.col("s")), 9).alias("score")
    )
    top = bm.orderBy(F.col("score").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.select(
        "doc_id",
        "score",
        F.row_number().over(w).cast("bigint").alias("rank"),
        F.lit(restart_equal).alias("restart_equal"),
        F.lit(stats_refused).alias("stats_refused"),
        F.lit(postings_applied).alias("postings_applied"),
    )
