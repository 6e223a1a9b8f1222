"""Property-based tests (hypothesis): invariants that hold for arbitrary
inputs, not just fixtures — CSV sink/source round-trip fidelity, decimal
normalization, MinHash estimate accuracy vs exact Jaccard."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import DataFrame

from dataintegration_csvprovider_spark.operators.dedup import (
    minhash_near_dup_pairs,
)
from dataintegration_csvprovider_spark.sinks.csv_sink import CsvSink
from dataintegration_csvprovider_spark.sources.csv_source import (
    CsvSource,
    CsvSourceOptions,
)

# cells: printable text without the quote-ambiguous edge the reference
# itself cannot round-trip (its parser trims whitespace at scan — leading/
# trailing spaces are lossy BY SPEC, CSVSourceReader.cs:48), and the NULL
# literal which decodes to SQL NULL by spec
_cell = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "S"),
        exclude_characters='"\r\n',
    ),
    min_size=0,
    max_size=20,
).filter(lambda s: s.strip() == s and s != "NULL")

_row = st.tuples(_cell, _cell, _cell)


@settings(max_examples=6, deadline=None)
@given(st.lists(_row, min_size=1, max_size=8))
def test_csv_roundtrip_property(spark_prop, tmp_path_factory, rows):
    """sink → source round trip preserves arbitrary cell values
    (empty string excepted: the reference writes it as a quoted empty,
    reads it back as null via Spark's empty-handling — normalize both)."""
    spark = spark_prop
    d = str(tmp_path_factory.mktemp("prop"))
    df = spark.createDataFrame(rows, "a string, b string, c string")
    CsvSink(folder=d).write(df, "t")
    back = CsvSource(folder=d).read(spark, "t").collect()
    norm = lambda v: v if v not in ("", None) else "\x00<null>"  # noqa: E731
    got = sorted(tuple(norm(x) for x in r) for r in back)
    want = sorted(tuple(norm(x) for x in r) for r in rows)
    assert got == want


@st.composite
def _defective_table(draw):
    """(column count, data rows, selected column indexes): rows with
    every field, and rows with too few or too many fields at random
    positions."""
    ncols = draw(st.integers(2, 5))
    good = [[f"r{i}c{c}" for c in range(ncols)] for i in range(draw(st.integers(1, 6)))]
    bad = [
        [f"b{i}c{c}" for c in range(n)]
        for i, n in enumerate(
            draw(
                st.lists(
                    st.one_of(st.integers(1, ncols - 1), st.integers(ncols + 1, ncols + 2)),
                    max_size=3,
                )
            )
        )
    ]
    rows = good[:]
    for row in bad:
        rows.insert(draw(st.integers(0, len(rows))), row)
    cols = draw(st.lists(st.integers(0, ncols - 1), min_size=1, max_size=ncols, unique=True))
    return ncols, rows, cols


@settings(max_examples=25, deadline=None)
@given(_defective_table(), st.booleans())
def test_defective_rows_judged_by_whole_row(spark_prop, tmp_path_factory, table, skip):
    """Whatever columns a read selects, a row with the wrong field count
    is dropped (ignore_defective_rows) or fails the read — the reference
    parses whole records (CSVSourceReader.cs:53-56,64-68)."""
    ncols, rows, cols = table
    d = tmp_path_factory.mktemp("defects")
    lines = [[f"c{c}" for c in range(ncols)]] + rows
    (d / "t.csv").write_text("".join(";".join(r) + "\n" for r in lines))
    names = [f"c{c}" for c in cols]
    df = CsvSource(
        folder=str(d), options=CsvSourceOptions(ignore_defective_rows=skip)
    ).read(spark_prop, "t").select(*names)
    good = [tuple(r[c] for c in cols) for r in rows if len(r) == ncols]
    if skip or len(good) == len(rows):
        assert [tuple(r) for r in df.collect()] == good
        assert df.count() == len(good)
    else:
        with pytest.raises(Exception, match="MALFORMED"):
            df.collect()


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=6,
    )
)
def test_decimal_comma_roundtrip_property(spark_prop, values):
    """Rendering doubles with ',' decimals and re-parsing with the comma
    mode recovers the exact doubles."""
    spark = spark_prop
    from pyspark.sql import functions as F

    from dataintegration_csvprovider_spark.functions.numeric import parse_double

    df = spark.createDataFrame([(v,) for v in values], "v double")
    rendered = df.select(
        F.translate(F.col("v").cast("string"), ".", ",").alias("s"), "v"
    )
    # exclude scientific notation (1.0E7-style) — ',' swap garbles exponents
    back = rendered.select(parse_double(F.col("s"), ",").alias("p"), "v").collect()
    for r in back:
        if "E" not in str(r.v) and "e" not in str(r.v):
            assert r.p == r.v or (math.isnan(r.p) and math.isnan(r.v))


def test_minhash_estimates_jaccard(spark):
    """est_jaccard from 64 minhashes tracks exact Jaccard within the
    binomial error bound (~4/sqrt(64) ≈ 0.5 at 3σ — loose, so assert a
    practical 0.25 band on constructed pairs)."""
    from dataintegration_csvprovider_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    base = [f"w{i}" for i in range(60)]
    variants = []
    for drop_every, doc_id in [(10, 1), (5, 2), (3, 3)]:
        words = [w for i, w in enumerate(base) if i % drop_every != 0]
        variants.append((doc_id, " ".join(words)))
    df = spark.createDataFrame(
        [(0, " ".join(base)), *variants], "doc_id long, text string"
    )
    exact = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    }
    est = {
        (r.a, r.b): r.est_jaccard
        for r in minhash_near_dup_pairs(df, threshold=0.0, shingle_size=3).collect()
    }
    assert exact, "constructed docs must overlap"
    for pair, j in exact.items():
        if pair in est:
            assert abs(est[pair] - j) <= 0.25, (pair, j, est[pair])


def _union_find(edges) -> dict:
    """Min-id component of every node of the non-loop, non-NULL edges."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is not None and b is not None and a != b:
            rx, ry = find(a), find(b)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    return {n: find(n) for n in parent}


def _both_routes(edges: DataFrame, src: str, dst: str):
    """``connected_components`` on its own route and with the driver box
    at 0, which forces the contraction on every non-empty edge list.
    Returns both label frames and whether each ran the contraction."""
    from dataintegration_csvprovider_spark.operators import components

    runs = []
    contract = components.connected_components_stats

    def spy(*args, **kwargs):
        runs[-1] = True
        return contract(*args, **kwargs)

    out = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(components, "connected_components_stats", spy)
        for box in (components.DRIVER_MAX_EDGES, 0):
            mp.setattr(components, "DRIVER_MAX_EDGES", box)
            runs.append(False)
            out.append(components.connected_components(edges, src, dst))
    return out, runs


_end = st.one_of(st.none(), st.integers(0, 24))
_INT_TYPES = ["smallint", "int", "bigint"]  # narrowest first


@st.composite
def _edge_frames(draw):
    """Edges with NULL ends and self-loops, plus duplicate and reversed
    copies of drawn edges, in integral columns under drawn names."""
    edges = draw(
        st.lists(
            st.one_of(st.tuples(_end, _end), st.integers(0, 24).map(lambda n: (n, n))),
            max_size=40,
        )
    )
    if edges:
        copies = draw(st.lists(st.tuples(st.sampled_from(edges), st.booleans()), max_size=10))
        edges += [(b, a) if flip else (a, b) for (a, b), flip in copies]
    names = draw(st.sampled_from([("src", "dst"), ("a", "b"), ("from node", "to.node")]))
    types = draw(st.tuples(st.sampled_from(_INT_TYPES), st.sampled_from(_INT_TYPES)))
    return edges, names, types


@given(_edge_frames())
@settings(max_examples=20, deadline=None)
def test_connected_components_matches_union_find(spark_prop, frame):
    """Both routes of ``connected_components`` (the driver union-find and
    the large-star/small-star contraction) against a Python union-find,
    with equal output schemas."""
    edges, (src, dst), (t_src, t_dst) = frame
    df = spark_prop.createDataFrame(edges, f"`{src}` {t_src}, `{dst}` {t_dst}")
    (driver, contracted), ran_contraction = _both_routes(df, src, dst)
    assert ran_contraction == [False, bool(edges)]
    id_type = max(t_src, t_dst, key=_INT_TYPES.index)
    schema = [(f.name, f.dataType.simpleString()) for f in driver.schema]
    assert schema == [("node", id_type), ("component", id_type)]
    assert [(f.name, f.dataType.simpleString()) for f in contracted.schema] == schema
    expected = _union_find(edges)
    for labels in (driver, contracted):
        got = {r.node: r.component for r in labels.collect()}
        assert got == expected


def test_connected_components_string_ids_contract(spark):
    """String ids take the contraction, and label with the least string."""
    df = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "x"), ("z", "z")], "src string, dst string"
    )
    (default, _), ran_contraction = _both_routes(df, "src", "dst")
    assert ran_contraction == [True, True]
    assert [f.dataType.simpleString() for f in default.schema] == ["string", "string"]
    got = {r.node: r.component for r in default.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=15, deadline=None)
def test_ngram_jaccard_matches_bruteforce(spark_prop, texts):
    # inverted-index (and prefix) jaccard vs O(n^2) python brute force
    from dataintegration_csvprovider_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark_prop.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )

    def grams(t):
        # mirror the operator's tokenization: trim + whitespace-collapse
        ws = t.split()
        return {f"{a} {b}" for a, b in zip(ws, ws[1:])}

    expected = set()
    for i, ti in enumerate(texts):
        for j in range(i + 1, len(texts)):
            if not ti.strip() or not texts[j].strip():
                continue  # contentless docs are skipped by design
            gi, gj = grams(ti), grams(texts[j])
            if not gi | gj:
                continue
            jac = len(gi & gj) / len(gi | gj)
            if jac >= 0.5:
                expected.add((i, j))
    for method in ("index", "prefix", "dense"):
        got = {
            (r.a, r.b)
            for r in ngram_jaccard_pairs(
                docs, n=2, threshold=0.5, method=method
            ).collect()
        }
        assert got == expected, (method, got, expected)


@given(
    st.lists(  # left events: (id, key, ts-seconds)
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=15,
    ),
    st.lists(  # right events: (key, ts-seconds, payload)
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=0,
        max_size=15,
    ),
)
@settings(max_examples=20, deadline=None)
def test_asof_join_matches_bruteforce(spark_prop, lefts, rights):
    import datetime as dt

    from dataintegration_csvprovider_spark.operators.asof import asof_join

    t0 = dt.datetime(2020, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    left = spark_prop.createDataFrame(
        [(i, k, sec(s)) for i, (k, s) in enumerate(lefts)],
        "id bigint, k bigint, ts timestamp",
    )
    right = spark_prop.createDataFrame(
        [(j, k, sec(s), s) for j, (k, s) in enumerate(rights)],
        "rid bigint, k bigint, rts timestamp, payload bigint",
    ) if rights else spark_prop.createDataFrame(
        [], "rid bigint, k bigint, rts timestamp, payload bigint"
    )

    got = {
        r.id: r.payload
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            right_payload=["payload"],
        ).collect()
    }
    for i, (k, s) in enumerate(lefts):
        cands = [ps for (rk, ps) in rights if rk == k and ps <= s]
        expected = max(cands) if cands else None
        assert got[i] == expected, (i, k, s, got[i], expected)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_skyline_matches_bruteforce(spark_prop, points):
    """Two-phase distributed skyline == O(n^2) brute-force dominance,
    including duplicate points (exact ties all survive)."""
    from dataintegration_csvprovider_spark.operators.skyline import skyline

    spark = spark_prop
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(points)]
    df = spark.createDataFrame(rows, "id bigint, x double, y double")
    got = sorted(r.id for r in skyline(df, minimize=["x"], maximize=["y"]).collect())
    want = sorted(
        i
        for i, x, y in rows
        if not any(
            (x2 <= x and y2 >= y and (x2 < x or y2 > y)) for _, x2, y2 in rows
        )
    )
    assert got == want


@given(
    st.lists(st.integers(0, 15), min_size=1, max_size=120),
    st.integers(2, 6),
)
@settings(max_examples=15, deadline=None)
def test_heavy_hitters_matches_exact_for_any_stream(spark_prop, items, parts):
    # the MG candidate superset + exact recount must equal the naive
    # GROUP BY ... HAVING answer for ANY input distribution/partitioning
    from collections import Counter

    from dataintegration_csvprovider_spark.operators.frequent import (
        heavy_hitters,
    )

    df = spark_prop.createDataFrame(
        [(i,) for i in items], "item long"
    ).repartition(parts)
    frac = 0.2
    got = {
        (r["item"], r["n"])
        for r in heavy_hitters(df, "item", min_frac=frac, total=len(items)).collect()
    }
    counts = Counter(items)
    want = {
        (k, c) for k, c in counts.items() if c > frac * len(items)
    }
    assert got == want


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8",
                categories=("L", "N", "P", "S"),
                exclude_characters="\r\n",
            ),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_quoted_matches_csv_module_for_single_char_delim(fields):
    # the hand-rolled multi-char splitter must agree with Python's csv
    # parser on the single-char dialect for ANY quoted header
    import csv as _csv
    import io

    from dataintegration_csvprovider_spark.sources.csv_source import (
        _split_quoted,
    )

    buf = io.StringIO()
    w = _csv.writer(
        buf, delimiter=";", quotechar='"', quoting=_csv.QUOTE_ALL,
        lineterminator="",
    )
    w.writerow(fields)
    line = buf.getvalue()
    assert _split_quoted(line, ";", '"') == fields


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8",
                categories=("L", "N"),
            ),
            min_size=0,
            max_size=10,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=100, deadline=None)
def test_split_quoted_multichar_roundtrip(fields):
    from dataintegration_csvprovider_spark.sources.csv_source import (
        _split_quoted,
    )

    line = "||".join('"' + f.replace('"', '""') + '"' for f in fields)
    assert _split_quoted(line, "||", '"') == fields


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=2,
        max_size=20,
    )
)
def test_jaccard_strategies_agree_property(spark_prop, docs_words):
    """All three exact-Jaccard strategies emit the identical pair set
    with identical jaccard values for arbitrary tiny-vocabulary corpora
    — the regimes differ only in cost, never in answer."""
    from dataintegration_csvprovider_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    spark = spark_prop
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    results = {}
    for method in ("dense", "index", "prefix"):
        results[method] = sorted(
            (r.a, r.b, round(r.jaccard, 12))
            for r in ngram_jaccard_pairs(
                df, n=2, threshold=0.4, method=method
            ).collect()
        )
    assert results["dense"] == results["index"] == results["prefix"]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-4.0,
                max_value=4.0,
                allow_nan=False,
                width=32,
            ),
            min_size=8,
            max_size=8,
        ),
        min_size=2,
        max_size=12,
    ).filter(lambda vs: all(any(x != 0.0 for x in v) for v in vs))
)
def test_bucket_scorer_bit_equals_expression_property(spark_prop, vectors):
    """The Arrow bucket scorer returns BIT-IDENTICAL cosines to the
    HOF-expression fold for arbitrary float32 vectors — the determinism
    contract that lets the backends swap without flipping any
    threshold comparison."""
    import pyspark.sql.functions as F

    from dataintegration_csvprovider_spark.operators.similarity import (
        _bucket_pair_scores,
        cosine_similarity_expr,
    )

    spark = spark_prop
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vectors)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned = df.withColumn("centroid_id", F.lit(0))
    got = {
        (r.a, r.b): r.cosine
        for r in _bucket_pair_scores(assigned, threshold=-2.0).collect()
    }
    l = df.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    r_ = df.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    want = {
        (r.a, r.b): r.cosine
        for r in l.join(r_, F.col("a") < F.col("b"))
        .select(
            "a", "b",
            cosine_similarity_expr(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k].hex(), want[k].hex())


@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-8.0, max_value=8.0,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=8, max_size=8,
        ),
        min_size=1, max_size=12,
    )
)
@settings(max_examples=10, deadline=None)
def test_pq_arrow_assignment_bit_equals_expression(spark_prop, vectors):
    """PQ Lloyd assignment: the Arrow batch path (dimension-sequential
    float64 (a-b)^2 accumulation + numpy first-occurrence argmin) emits
    BIT-IDENTICAL codes to the aggregate/zip_with expression fold with
    array_position(array_min) tie-break it replaced — arbitrary float32
    subvectors, m=2 subspaces, k=4 codes."""
    import pyspark.sql.functions as F

    from dataintegration_csvprovider_spark.operators.pq import (
        _assign_codes_arrow,
    )

    spark = spark_prop
    m, sub, k = 2, 4, 4
    # codebooks derived from the input so ties actually occur
    books = [
        [
            [float(vectors[(c + j) % len(vectors)][j * sub + d]) for d in range(sub)]
            for c in range(k)
        ]
        for j in range(m)
    ]
    rows = spark.createDataFrame(
        [
            (j, [float(x) for x in v[j * sub : (j + 1) * sub]])
            for v in vectors
            for j in range(m)
        ],
        "j int, subvec array<double>",
    )
    got = [
        (r.j, tuple(r.subvec), r.code)
        for r in _assign_codes_arrow(rows, books).collect()
    ]

    centers_lit = F.array(
        *[
            F.array(*[F.array(*[F.lit(x) for x in c]) for c in book])
            for book in books
        ]
    )
    my_centers = F.element_at(centers_lit, F.col("j") + 1)
    dists = F.transform(
        my_centers,
        lambda c: F.aggregate(
            F.zip_with(F.col("subvec"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    code = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    want = [
        (r.j, tuple(r.subvec), r.code)
        for r in rows.select("j", "subvec", code.alias("code")).collect()
    ]
    assert sorted(got) == sorted(want)


@given(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=12, deadline=None)
def test_token_balanced_shards_property(spark_prop, weights, n_shards):
    """For ARBITRARY weight sequences: every row assigned exactly once,
    shard ids contiguous in key order, and each nonempty shard's weight
    within max(weight) of the ideal total/n (the one-boundary-row
    bound). Also exactly matches the window-cumsum closed form."""
    from dataintegration_csvprovider_spark.operators.scale import (
        token_balanced_shards,
    )

    spark = spark_prop
    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "k long, w long")
    got = {
        r.k: r.shard_id
        for r in token_balanced_shards(df, "k", "w", n_shards).collect()
    }
    assert len(got) == len(weights)
    # closed form: floor(exclusive_prefix * n / total) capped
    total = sum(weights)
    excl = 0
    for i, w in enumerate(weights):
        want = min((excl * n_shards) // total, n_shards - 1)
        assert got[i] == want, (i, w, got[i], want)
        excl += w
    # contiguity in key order
    seq = [got[i] for i in range(len(weights))]
    assert seq == sorted(seq)


@given(
    st.lists(
        st.text(alphabet="xy ", min_size=0, max_size=40),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=10, deadline=None)
def test_exact_substring_dedup_matches_model(spark_prop, texts, L):
    """The distributed duplicated-window cover must equal a direct
    Python model: mark every pos whose L-window text occurs >= 2 times
    corpus-wide, remove covered tokens, rejoin."""
    from collections import Counter

    from dataintegration_csvprovider_spark.operators.dedup import (
        exact_substring_dedup,
    )

    docs = spark_prop.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )

    toks = {i: t.split() for i, t in enumerate(texts)}
    counts = Counter()
    for ws in toks.values():
        for p in range(len(ws) - L + 1):
            counts[tuple(ws[p : p + L])] += 1
    expected = {}
    for i, ws in toks.items():
        covered = set()
        for p in range(len(ws) - L + 1):
            if counts[tuple(ws[p : p + L])] >= 2:
                covered.update(range(p, p + L))
        clean = " ".join(w for j, w in enumerate(ws) if j not in covered)
        expected[i] = (len(ws), len(covered), clean)

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"], r["clean_text"])
        for r in exact_substring_dedup(docs, min_tokens=L).collect()
    }
    assert got == expected


_word = st.text(
    alphabet=st.characters(codec="ascii", categories=("L", "N")),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.lists(_word, min_size=0, max_size=40), min_size=1, max_size=5),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=2, max_value=5),
)
def test_span_corruption_reconstructs_original(
    spark_prop, docs, span_words, mask_every
):
    """Lossless-corruption property: splicing each target span back over
    its sentinel in the input reproduces the original document exactly,
    for arbitrary word sequences and (span_words, mask_every) knobs —
    i.e. the (input, target) pair carries the full document, which is
    precisely what lets T5 train on it."""
    from dataintegration_csvprovider_spark.operators.textstats import (
        span_corruption,
    )

    spark = spark_prop
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_corruption(
        df, span_words=span_words, mask_every=mask_every
    ).collect()
    assert len(out) == len(docs)
    for r in out:
        ws = docs[r["doc_id"]]
        assert r["n_words"] == len(ws)
        # parse target into {sentinel: [words]}
        spans: dict[str, list[str]] = {}
        cur = None
        for tok in r["target"].split(" ") if r["target"] else []:
            if tok.startswith("<extra_id_"):
                cur = tok
                spans[cur] = []
            else:
                spans[cur].append(tok)
        # splice
        rebuilt: list[str] = []
        for tok in r["input"].split(" ") if r["input"] else []:
            if tok.startswith("<extra_id_"):
                rebuilt.extend(spans.pop(tok))
            else:
                rebuilt.append(tok)
        assert spans == {}  # every masked span consumed exactly once
        assert rebuilt == ws
        assert r["n_masked"] == sum(
            1
            for i in range(len(ws))
            if (i // span_words) % mask_every == mask_every - 1
        )


@settings(max_examples=40, deadline=None, derandomize=True)
@given(
    st.lists(
        st.floats(
            min_value=-1e12,
            max_value=1e12,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=3000,
    ),
    st.integers(min_value=1, max_value=7),
)
def test_mrl_sketch_laws_property(values, n_parts):
    """For ARBITRARY float multisets and split shapes: total represented
    weight is exactly n under any partitioning, and every quantile
    estimate's rank interval sits within the 0.05 gate the registry
    queries assert (k=256 >> these sizes, so most runs are exact — the
    law must hold in both the exact and the collapsed regime)."""
    import numpy as np

    from dataintegration_csvprovider_spark.operators.sketches import (
        mrl_insert,
        mrl_merge,
        mrl_quantiles,
        mrl_total_weight,
    )

    data = np.asarray(values, dtype=np.float64)
    parts = np.array_split(data, n_parts)
    # small k forces collapses even on hypothesis-sized inputs
    merged = mrl_merge(
        [mrl_insert({}, p, k=16) for p in parts if len(p)], k=16
    )
    assert mrl_total_weight(merged) == len(data)
    exact = np.sort(data)
    n = len(data)
    for q, est in mrl_quantiles(merged, [0.25, 0.5, 0.9]):
        lo = np.searchsorted(exact, est, side="left") / n
        hi = np.searchsorted(exact, est, side="right") / n
        # k=16 worst-case bound is looser than the registry's 0.05 at
        # k=256; assert the analytic-order bound for the small k
        assert max(q - hi, lo - q, 0.0) <= 0.35


@settings(max_examples=30, deadline=None, derandomize=True)
@given(
    st.sets(st.integers(min_value=1, max_value=10**9), min_size=1,
            max_size=400),
    st.integers(min_value=2, max_value=5),
)
def test_kmv_merge_equals_rebuild_property(keys, n_parts):
    """KMV mergeability is LOSSLESS for arbitrary key sets and splits:
    merging per-part sketches yields the identical k-set (and so the
    identical estimate) as sketching the whole set."""
    from dataintegration_csvprovider_spark.operators.sketches import (
        KMV_A,
        KMV_B,
        KMV_P,
        kmv_estimate,
        kmv_merge,
    )

    def build(ks, k=64):
        hs = sorted({(x * KMV_A + KMV_B) % KMV_P for x in ks})
        return hs[:k], len(hs)

    keys = sorted(keys)
    parts = [keys[i::n_parts] for i in range(n_parts)]
    merged = kmv_merge([build(p) for p in parts if p])
    whole = build(keys)
    assert merged[0] == whole[0]
    assert kmv_estimate(*merged) == kmv_estimate(*whole)


def _luhn_py(digits: str) -> bool:
    """Independent pure-Python Luhn reference (the textbook recipe)."""
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = ord(ch) - 48
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="0123456789", min_size=13, max_size=16),
        min_size=1,
        max_size=6,
        unique=True,
    )
)
def test_luhn_fold_matches_reference(spark_prop, cards):
    """The JVM-side Luhn array fold (operators/pii.py) agrees with an
    independent Python implementation on arbitrary 13-16 digit strings —
    one candidate per row so each verdict is individually visible."""
    from pyspark.sql import functions as F

    from dataintegration_csvprovider_spark.operators.pii import luhn_valid

    spark = spark_prop
    df = spark.createDataFrame([(c,) for c in cards], "card string")
    got = {
        r.card: r.ok
        for r in df.select(
            "card", luhn_valid(F.col("card")).alias("ok")
        ).collect()
    }
    for c in cards:
        assert got[c] == _luhn_py(c), c
