"""Structured Streaming slice (SURVEY.md §2.8): windows, watermarks,
within-watermark dedup, CSV file-source streams."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.catalog import load_table
from dataintegration_csvprovider_spark.sinks.csv_sink import CsvSink
from dataintegration_csvprovider_spark.sources.csv_source import CsvSource
from dataintegration_csvprovider_spark.streaming.events import (
    dedup_within_watermark,
    run_to_completion,
    session_agg,
    stream_from_csv_source,
    stream_from_parquet,
    tumbling_agg,
)

SF = "/root/testdata/sf0.001"


def _staged_stream(spark, tmp_path):
    events = load_table(spark, str(SF), "events")
    d = str(tmp_path / "stage")
    events.write.mode("overwrite").parquet(d)
    return events, stream_from_parquet(spark, d, events.schema)


def test_tumbling_matches_batch(spark, tmp_path):
    events, stream = _staged_stream(spark, tmp_path)
    out = run_to_completion(tumbling_agg(stream, window="1 hour"), "complete")
    batch = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {(r.window.start, r.event_type): r.n for r in out.collect()}
    want = {(r.window.start, r.event_type): r.n for r in batch}
    assert got == want and len(got) > 0


def test_session_windows_merge(spark, tmp_path):
    _, stream = _staged_stream(spark, tmp_path)
    out = run_to_completion(session_agg(stream, gap="30 minutes"), "complete")
    rows = out.collect()
    assert rows
    for r in rows:
        # session end = last event + gap → span is at least the gap
        span = (r.session_window.end - r.session_window.start).total_seconds()
        assert span >= 30 * 60


def test_dedup_within_watermark(spark, tmp_path):
    events, stream = _staged_stream(spark, tmp_path)
    out = run_to_completion(
        dedup_within_watermark(stream, keys=("user_id", "event_type")), "append"
    )
    n_pairs = events.select("user_id", "event_type").distinct().count()
    assert out.count() == n_pairs


def test_append_run_removes_its_checkpoint_dir(spark, tmp_path, monkeypatch):
    import os
    import tempfile
    from urllib.parse import urlparse

    from dataintegration_csvprovider_spark.streaming.events import scratch_root

    _, stream = _staged_stream(spark, tmp_path)
    temp = tmp_path / "tmp"
    temp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp))
    out = run_to_completion(
        dedup_within_watermark(stream, keys=("user_id", "event_type")), "append"
    )
    assert not list(temp.glob("stream_sink_ck_*"))
    # the sink dir stays until exit under the process scratch root: the
    # returned frame reads it lazily
    assert set(os.listdir(temp)) <= {os.path.basename(scratch_root())}
    files = out.inputFiles()
    assert files and all(
        urlparse(f).path.startswith(scratch_root() + "/stream_sink_")
        for f in files
    )
    assert out.count() > 0


def test_stateful_user_totals_matches_batch(spark, tmp_path):
    from dataintegration_csvprovider_spark.streaming.events import (
        stateful_user_totals,
    )

    events, stream = _staged_stream(spark, tmp_path)
    out = run_to_completion(stateful_user_totals(stream), "update")
    got = {r.user_id: (r.n_events, r.total) for r in out.collect()}
    want = {
        r.user_id: (r.n, r.s)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, s) in want.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - s) < 1e-6


def test_csv_file_source_stream(spark, tmp_path):
    df = spark.createDataFrame(
        [("2024-01-01 00:05:00", "click", "1.5"),
         ("2024-01-01 00:20:00", "view", "2.5"),
         ("2024-01-01 01:10:00", "click", "3.0")],
        "ts string, event_type string, value string",
    )
    d = str(tmp_path / "csv")
    CsvSink(folder=d).write(df, "events")
    src = CsvSource(folder=d)
    stream = stream_from_csv_source(spark, src, "events").select(
        F.col("ts").try_cast("timestamp").alias("ts"),
        "event_type",
        F.col("value").try_cast("double").alias("value"),
    )
    out = run_to_completion(tumbling_agg(stream, window="1 hour"), "complete")
    rows = {(r.window.start.hour, r.event_type): (r.n, r.total) for r in out.collect()}
    assert rows == {(0, "click"): (1, 1.5), (0, "view"): (1, 2.5), (1, "click"): (1, 3.0)}


def test_stream_to_csv_sink_roundtrip(spark, sf_dir, tmp_path):
    # stream -> windowed agg -> foreachBatch -> CsvSink -> CsvSource:
    # the reference's CSV destination fed by Structured Streaming, with
    # checkpointed exactly-once bookkeeping
    from pyspark.sql import functions as F

    from dataintegration_csvprovider_spark.catalog import load_table
    from dataintegration_csvprovider_spark.queries.streaming import (
        _events_stream,
    )
    from dataintegration_csvprovider_spark.sinks.csv_sink import CsvSink
    from dataintegration_csvprovider_spark.sources.csv_source import CsvSource
    from dataintegration_csvprovider_spark.streaming.events import (
        stream_to_csv_sink,
        tumbling_agg,
    )

    agg = tumbling_agg(_events_stream(spark, sf_dir), window="1 hour")
    flat = agg.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win"),
        "event_type",
        "n",
    )
    sink = CsvSink(folder=str(tmp_path / "out"))
    path = stream_to_csv_sink(
        flat, sink, "hourly", checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert path.endswith("hourly.csv")
    back = CsvSource(folder=str(tmp_path / "out")).read(spark, "hourly")
    # equals the batch computation over the same fixture
    events = load_table(spark, sf_dir, "events")
    expected = (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).count().count()
    )
    assert back.count() == expected


def test_stream_upsert_state_late_arrival(spark, tmp_path):
    """A later micro-batch carrying an OLDER event must not overwrite
    newer state, and a delete tombstone must not be resurrected."""
    import datetime as dt

    from dataintegration_csvprovider_spark.streaming.events import (
        stream_upsert_state,
    )

    T = dt.datetime(2024, 1, 1)

    def at(h):
        return T + dt.timedelta(hours=h)

    # file 0 written first carries the NEWER events; file 1 the older ones
    rows_new = [(10, at(5), 1, "purchase", 1.0), (11, at(5), 2, "error", 0.0)]
    rows_old = [(1, at(1), 1, "click", 9.0), (2, at(1), 2, "view", 9.0)]
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    stage = str(tmp_path / "stage")
    spark.createDataFrame(rows_new, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    spark.createDataFrame(rows_old, schema).coalesce(1).write.mode(
        "append"
    ).parquet(stage)
    feed = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1")
        .load(stage)
    )
    state = stream_upsert_state(
        feed,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    out = {r.user_id: r.event_type for r in state.collect()}
    # user 1: purchase (t=5) wins over click (t=1) in any batch order;
    # user 2: the error tombstone (t=5) wins over view (t=1)
    assert out == {1: "purchase", 2: "error"}


def test_stateful_v2_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas parity with the v1 state machine —
    runs only where the protobuf dependency for the TWS state client
    exists (not in this container; the operator is dependency-gated)."""
    import importlib.util

    import pytest

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        has_protobuf = False
    if not has_protobuf:
        pytest.skip("google.protobuf not installed (TWS client dependency)")

    from pyspark.sql import functions as F

    from dataintegration_csvprovider_spark.streaming.events import (
        run_to_completion,
        stateful_user_totals_v2,
    )

    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, 2.0), (1, 3.0), (2, 1.0)], "user_id long, value double"
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    feed = spark.readStream.schema(schema).parquet(src)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = run_to_completion(
            stateful_user_totals_v2(feed), output_mode="update"
        )
        got = {
            (r["user_id"], r["n_events"], r["total"])
            for r in out.groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max("total").alias("total"),
            )
            .collect()
        }
        assert got == {(1, 2, 5.0), (2, 1, 1.0)}
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )


def test_progress_state_metrics_tumbling(spark, tmp_path):
    # stateOperators.numRowsTotal is the live state cardinality: for a
    # complete-mode windowed agg over one availableNow pass it must equal
    # the emitted (window, group) row count — the invariant a state-store
    # monitor alerts on at scale.
    from dataintegration_csvprovider_spark.streaming.events import (
        observe_rows,
        run_with_progress,
    )

    events, stream = _staged_stream(spark, tmp_path)
    out, progresses = run_with_progress(
        tumbling_agg(observe_rows(stream), window="1 hour"), "complete"
    )
    n_groups = out.count()
    assert progresses, "availableNow run must record at least one progress"
    state_totals = [
        op["numRowsTotal"]
        for p in progresses
        for op in p.get("stateOperators", [])
        if "numRowsTotal" in op
    ]
    assert state_totals and max(state_totals) == n_groups
    # every input row passed the observe point exactly once
    observed = [
        p["observedMetrics"]["engine_metrics"]["n_rows"]
        for p in progresses
        if p.get("observedMetrics", {}).get("engine_metrics")
    ]
    assert sum(observed) == events.count()


def test_progress_state_metrics_dedup(spark, tmp_path):
    # within-watermark dedup keeps one state row per distinct key seen
    # inside the horizon; with a single batch that is every distinct key.
    from dataintegration_csvprovider_spark.streaming.events import (
        run_with_progress,
    )

    events, stream = _staged_stream(spark, tmp_path)
    out, progresses = run_with_progress(
        dedup_within_watermark(stream, keys=("user_id", "event_type")), "append"
    )
    n_keys = events.select("user_id", "event_type").distinct().count()
    assert out.count() == n_keys
    state_totals = [
        op["numRowsTotal"]
        for p in progresses
        for op in p.get("stateOperators", [])
        if "numRowsTotal" in op
    ]
    assert state_totals and max(state_totals) == n_keys


def test_stream_contamination_flags_stateless(spark, tmp_path):
    from dataintegration_csvprovider_spark.operators.dedup import (
        exact_substring_eval_index,
        stream_contamination_flags,
    )
    from dataintegration_csvprovider_spark.streaming.events import (
        run_to_completion,
        stream_from_parquet,
    )

    leak = "l1 l2 l3 l4 l5"
    train = spark.createDataFrame(
        [(1, f"a b {leak} c"), (2, "no overlap here at all truly")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(9, f"intro {leak} outro")], "doc_id long, text string"
    )
    idx = exact_substring_eval_index(ev, min_tokens=5)
    d = str(tmp_path / "train")
    train.write.parquet(d)
    stream = stream_from_parquet(spark, d, train.schema)
    flags = stream_contamination_flags(stream, idx, min_tokens=5)
    assert flags.isStreaming
    out = run_to_completion(flags, output_mode="append").collect()
    # exactly one marked window: doc 1 pos 2 (the 5-token leak)
    assert [(r.id, r.pos) for r in out] == [(1, 2)]
