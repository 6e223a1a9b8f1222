"""The MinHash pair path and the components contraction, built as Spark
SQL text, against independent expectations.

``word_shingles_sql`` is checked against its Column twin
``word_shingles``. The signatures, both the public row-wise fold and
the grouped batch table behind the pair path, are checked against an
expectation computed outside the code under test: shingles split in
Python by Spark's own rules, hashed by Spark's built-in ``xxhash64``
(or by ``hashlib`` for ``base_hash="md5"``) and folded into the 64
minima in Python from :func:`minhash_mix`.
"""

from __future__ import annotations

import hashlib
import random
import re
import threading
import uuid

import py4j.clientserver
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from dataintegration_csvprovider_spark.operators.components import (
    connected_components,
)
from dataintegration_csvprovider_spark.operators.dedup import (
    _signature_plan,
    _signature_table,
    minhash_mix,
    minhash_near_dup_pairs,
    minhash_signatures,
    word_shingles,
    word_shingles_sql,
)

P31 = 2147483647
NUM_HASHES = 64
# Spark's ``trim`` strips only U+0020; ``split`` on ``\s+`` uses Java's
# ASCII whitespace class, so U+00A0 and U+2003 stay inside a word
_JAVA_SPACE = re.compile("[ \t\n\x0b\f\r]+")

# short words so that shingles repeat; tabs, CR, LF, vertical tab and
# form feed split words; non-ASCII letters, a no-break space and an
# astral code point do not
_fragments = ["a", "b", "a b", "äß", "日本", "\U0001F600", " ", "  ", "\t",
              "\n", "\r\n", "\x0b", "\f", "\u00a0", "\u2003"]
_doc = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_fragments), max_size=14).map("".join),
)
_docs = st.lists(_doc, min_size=1, max_size=12)


def expected_shingles(text: str | None, k: int) -> list[str] | None:
    """Distinct k-word shingles in first-seen order, by Spark's rules."""
    if text is None:
        return None
    words = _JAVA_SPACE.split(text.strip(" "))
    grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
    return list(dict.fromkeys(grams))


def expected_signature(hashes: list[int] | None) -> list[int] | None:
    """The 64 minima of pmod(h*a + b, 2^31-1) over the 31-bit shingle
    hashes; a doc with no shingle keeps the fold's Long.MAX start."""
    if hashes is None:
        return None
    sig = [2**63 - 1] * NUM_HASHES
    for h in hashes:
        for i in range(NUM_HASHES):
            a, b = minhash_mix(i)
            sig[i] = min(sig[i], (h * a + b) % P31)
    return sig


def _md5_31(gram: str) -> int:
    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:16], 16) % P31


def _xxhash_31(spark, grams) -> dict[str, int]:
    """31-bit ``xxhash64`` of each shingle, by Spark's built-in."""
    if not grams:
        return {}
    rows = spark.createDataFrame([(g,) for g in grams], "g string").selectExpr(
        "g", "xxhash64(g) & 2147483647L AS h"
    )
    return {r["g"]: r["h"] for r in rows.collect()}


@settings(max_examples=25, deadline=None)
@given(texts=_docs, k=st.sampled_from([1, 2, 3]))
def test_word_shingles_sql_matches_column(spark_prop, texts, k):
    df = spark_prop.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        word_shingles(F.col("t"), k).alias("col"),
        F.expr(word_shingles_sql("`t`", k)).alias("sql"),
    ).collect()
    assert [r["sql"] for r in rows] == [r["col"] for r in rows]
    assert [r["col"] for r in rows] == [expected_shingles(t, k) for t in texts]


@settings(max_examples=20, deadline=None)
@given(texts=_docs)
def test_signatures_match_python_oracle(spark_prop, texts):
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark_prop.createDataFrame(docs, "doc_id bigint, text string")
    grams = {i: expected_shingles(t, 3) for i, t in docs}
    xx = _xxhash_31(spark_prop, {g for gs in grams.values() if gs for g in gs})
    for base_hash, h31 in (("xxhash64", xx.__getitem__), ("md5", _md5_31)):
        got = {
            r["doc_id"]: (r["text"], r["signature"])
            for r in minhash_signatures(df, base_hash=base_hash).collect()
        }
        for i, t in docs:
            hashes = None if grams[i] is None else [h31(g) for g in grams[i]]
            assert got[i] == (t, expected_signature(hashes)), (base_hash, t)


_words = st.sampled_from(["a", "b", "äß", "日本", "a\u00a0b"])
_gaps = st.sampled_from([" ", "  ", "\t", "\n", "\r\n", " \t "])
#: docs of exactly three words (the shingle size) and of two, among the
#: free-form ones
_sized_doc = st.integers(2, 3).flatmap(
    lambda n: st.tuples(st.lists(_words, min_size=n, max_size=n), _gaps)
).map(lambda wg: wg[1].join(wg[0]))
_keyed_docs = st.lists(
    st.tuples(
        # few distinct ids, so some repeat, and NULL
        st.one_of(st.none(), st.integers(0, 3)),
        st.one_of(_sized_doc, _doc),
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=12, deadline=None)
@given(docs=_keyed_docs)
def test_signature_table_matches_python_oracle(spark_prop, docs):
    """The grouped batch table: one signature per input row with at
    least one shingle, whatever its id (repeated or NULL), and none for a
    doc under the shingle size."""
    df = spark_prop.createDataFrame(docs, "doc_id bigint, text string")
    grams = [expected_shingles(t, 3) for _, t in docs]
    xx = _xxhash_31(spark_prop, {g for gs in grams if gs for g in gs})
    for base_hash, h31 in (("xxhash64", xx.__getitem__), ("md5", _md5_31)):
        got = _signature_table(df, "text", "doc_id", NUM_HASHES, 3, base_hash).collect()
        want = [
            (i, expected_signature([h31(g) for g in gs]))
            for (i, _), gs in zip(docs, grams)
            if gs
        ]
        assert len(got) == len(want) == sum(bool(gs) for gs in grams)
        assert sorted(map(tuple, got), key=_null_first) == sorted(
            want, key=_null_first
        ), base_hash


def _null_first(row: tuple) -> tuple:
    return row[0] is not None, row[0] or 0, row[1]


def test_signature_table_plan(spark):
    """The batch table is one hash exchange feeding a grouped ``min``
    aggregate: a second exchange or the lambda fold would undo it. The
    shingles keep their own ``zip_with`` chain."""
    df = spark.createDataFrame(_corpus(20), "doc_id bigint, text string")
    for base_hash in ("xxhash64", "md5"):
        plan = _signature_plan(
            df, "text", "doc_id", NUM_HASHES, 3, base_hash
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "HashAggregate" in plan
        assert plan.count("zip_with") == word_shingles_sql("`text`", 3).count("zip_with")
        assert "aggregate(" not in plan


def _corpus(n: int = 200) -> list[tuple[int, str]]:
    """``n`` 30-word docs over a 300-word vocabulary; every tenth doc is
    its predecessor with one word replaced."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    docs: list[tuple[int, str]] = []
    for i in range(n):
        if i % 10 == 5:
            words = docs[-1][1].split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
            docs.append((i + 1, " ".join(words)))
        else:
            docs.append((i + 1, " ".join(rng.choice(vocab) for _ in range(30))))
    return docs


def _pairs_and_labels(df):
    pairs = minhash_near_dup_pairs(df)
    labels = connected_components(pairs, src="a", dst="b").collect()
    return sorted(map(tuple, pairs.collect())), sorted(map(tuple, labels))


def test_escaped_string_literals_setting(spark):
    """``spark.sql.parser.escapedStringLiterals`` changes how a SQL
    literal reads a backslash; the ``\\s+`` word break must not change
    with it."""
    docs = _corpus(120) + [(1000, "x\ty z\tw"), (1001, "x\ty z\tw")]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    off = _pairs_and_labels(df)
    assert (1000, 1001, 1.0) in off[0] and len(off[0]) == 13
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        on = _pairs_and_labels(df)
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")
    assert on == off


def test_dedup_py4j_budget(spark):
    """One ``minhash_near_dup_pairs`` plus ``connected_components``
    collect on 200 docs: 1,892 round trips on this thread when both
    plans were built from Column lambdas, 262 as SQL text."""
    df = spark.createDataFrame(_corpus(), "doc_id bigint, text string")
    df.count()
    conn = py4j.clientserver.ClientServerConnection
    send, caller, calls = conn.send_command, threading.get_ident(), [0]

    def counting(self, command):
        # py4j's finalizer thread sends deferred object deletions on
        # its own connection; only this thread's calls are the plans'
        calls[0] += threading.get_ident() == caller
        return send(self, command)

    conn.send_command = counting
    try:
        pairs = minhash_near_dup_pairs(df)
        labels = connected_components(pairs, src="a", dst="b").collect()
    finally:
        conn.send_command = send
    assert pairs.count() == 20 and len(labels) == 40
    assert calls[0] <= 400, calls[0]


def test_components_job_budget(spark):
    """Spark jobs of ``connected_components(...).collect()`` on the 20
    pairs of 200 docs, read through the status tracker under a job
    group: the contraction's rounds ran 8, the driver layout runs 1 (its
    capped Arrow collect)."""
    df = spark.createDataFrame(_corpus(), "doc_id bigint, text string")
    pairs = minhash_near_dup_pairs(df)
    sc = spark.sparkContext
    group = f"components-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        labels = connected_components(pairs, src="a", dst="b").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(labels) == 40
    assert len(jobs) <= 2, len(jobs)
