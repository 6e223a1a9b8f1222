"""bench.py's scaling block: replica keys are ``key*mult + rep``, so
replicas never share a key at any scale factor."""

from __future__ import annotations

from bench import _replicate


def test_replica_keys_never_collide(spark):
    # a fixed 10M offset maps key 0's first replica onto key 10,000,000
    df = spark.createDataFrame([(0,), (10_000_000,)], "k long")
    keys = [r.k for r in _replicate(df, 3, ("k",)).collect()]
    assert len(keys) == len(set(keys)) == 6


def test_joined_frames_meet_replica_to_replica(spark):
    a = spark.createDataFrame([(1,), (7,)], "k long")
    b = spark.createDataFrame([(7,), (20_000_000,)], "k long")
    ra, rb = _replicate(a, 2, ("k",)), _replicate(b, 2, ("k",))
    assert ra.join(rb, "k").count() == 2  # key 7 meets itself once per replica
