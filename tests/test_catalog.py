"""The catalog's analyzed-scan memo: per session, weakly keyed, and the
session pinning runs on every call, cache hit or not."""

from __future__ import annotations

import gc

from pyspark import RDD

from dataintegration_csvprovider_spark import catalog
from dataintegration_csvprovider_spark.catalog import load_table


def test_cache_hit_still_pins_utc_and_nanos(spark, sf_dir):
    first = load_table(spark, sf_dir, "events")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        again = load_table(spark, sf_dir, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        # a memo hit: the same analyzed plan, not a second read
        assert again._jdf.equals(first._jdf)
        assert dict(again.dtypes)["ts"] == "timestamp"
        assert again.count() == first.count() > 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_memo_does_not_pin_a_dropped_session(spark, sf_dir, monkeypatch):
    # a new session rebinds RDD.toDF to itself, which would pin it;
    # undo() puts the previous binding back
    monkeypatch.setattr(RDD, "toDF", RDD.toDF)
    other = spark.newSession()
    monkeypatch.undo()
    df = load_table(other, sf_dir, "nation")
    assert other in catalog._TABLE_CACHE
    assert load_table(other, sf_dir, "nation").count() == df.count() > 0
    before = len(catalog._TABLE_CACHE)
    del other, df
    gc.collect()
    assert len(catalog._TABLE_CACHE) == before - 1
