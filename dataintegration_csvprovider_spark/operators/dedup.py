"""Deduplication operators for 100 TB training-data pipelines.

Four families, all expressed over DataFrames so Catalyst keeps the shuffle
plan visible and AQE can re-plan skew:

- exact: hash-groupBy keep-first — one shuffle on the dedup key.
- MinHash + LSH: shingle → 64-hash signature (one pass, JVM expressions,
  no Python) → band-bucket join for candidates → exact signature-overlap
  verify → connected components → keep component representative. The
  classic near-dup pipeline (Broder '97; Lee et al. "Deduplicating
  Training Data Makes Language Models Better"). Its plans are Spark SQL
  text (the ``*_sql`` builders below), so building one costs a few
  hundred py4j round trips rather than thousands.
- SimHash: 64-bit sign-of-weighted-sum fingerprint (Charikar '02) with
  (max_hamming + 1)-chunk blocking for hamming-distance candidates
  (pigeonhole: some chunk is identical for every true pair).
- n-gram Jaccard: exact token-shingle set similarity via an inverted-index
  self-join (explode token → equi-join → count) — no O(n²) cross join.

Scale notes: every pairwise step is an equi-join on a hash bucket, so it
shuffles on bucket keys and broadcasts nothing; the only iterative stage
(connected components, operators/components.py) contracts the pair graph
with alternating large-star/small-star rounds under per-round lineage
truncation, unless the pair ids are integral and few enough for its
driver union-find. Skewed buckets (a shingle appearing in every doc)
are capped via a frequency filter before the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident, sql_literal, sql_string
from ._util import spread as _spread

#: the word separator of every shingle (a regex; Java's ``\s`` class)
_WORD_BREAK = "\\s+"


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def dedup_exact(df: DataFrame, keys: list[str], tiebreaker: str) -> DataFrame:
    """Keep exactly one row per distinct ``keys`` — the one with the
    smallest ``tiebreaker`` (deterministic, unlike dropDuplicates).
    One hash shuffle on ``keys``."""
    w = W.partitionBy(*keys).orderBy(F.col(tiebreaker))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# Shingling + MinHash
# --------------------------------------------------------------------------


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column — pure array expressions
    (split → sliding windows via transform over an index sequence).
    Documents with fewer than ``k`` words have NO k-shingle — empty
    array, the standard definition (and what a SQL oracle computes);
    padding them with a truncated shingle would pair all short docs.
    Branch-free: the short-doc case is a zero-length slice, not a CASE
    WHEN — wrapping the big HOF expressions in a branch was measured to
    multiply whole-stage-codegen compile time several-fold. Text is
    trimmed first: leading/trailing whitespace would otherwise produce
    empty tokens and junk shingles."""
    words = F.split(F.trim(text), _WORD_BREAK)
    n = F.size(words)
    m = F.greatest(n - k + 1, F.lit(0))  # number of k-shingles
    # zip k length-m shifted views of the word array; a zip_with chain is
    # ~2x faster than transform(sequence, i -> concat_ws(slice)) — HOFs
    # run interpreted (no codegen), and per-index slice() copies dominate
    shifted = [F.slice(words, j + 1, m) for j in range(k)]
    sh = shifted[0]
    for nxt in shifted[1:]:
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(sh)


def word_shingles_sql(expr: str, k: int = 3) -> str:
    """:func:`word_shingles` as Spark SQL text over the SQL ``expr``."""
    words = f"split(trim({expr}), {sql_string(_WORD_BREAK)})"
    m = f"greatest(size({words}) - {k} + 1, 0)"
    sh = f"slice({words}, 1, {m})"
    for j in range(1, k):
        sh = (
            f"zip_with({sh}, slice({words}, {j + 1}, {m}), "
            f"(a, b) -> concat_ws({sql_string(' ')}, a, b))"
        )
    return f"array_distinct({sh})"


def _with_content(df: DataFrame, text_col: str, min_words: int = 1) -> DataFrame:
    """Drop docs that cannot form a feature set: NULL/whitespace-only
    text, or fewer than ``min_words`` words (no ``min_words``-shingle
    exists). Set similarity is undefined for empty feature sets — without
    this, empty docs band-match each other (identical degenerate
    signatures) and 0/0 Jaccard yields NaN, which Spark orders ABOVE any
    threshold. Filtering rows HERE (a cheap scan predicate) keeps the
    downstream hash folds branch-free. Exact dedup still sees such rows;
    only near-dup search skips them."""
    text = sql_ident(text_col)
    cond = f"{text} IS NOT NULL AND trim({text}) != ''"
    if min_words > 1:
        cond += f" AND size(split(trim({text}), {sql_string(_WORD_BREAK)})) >= {min_words}"
    return df.where(cond)


def minhash_mix(i: int) -> tuple[int, int]:
    """Deterministic odd 31-bit (multiplier, offset) for permutation
    seed ``i`` — module-level so SQL oracles can inline the identical
    constants and replay the signature matrix."""
    a = ((0x9E3779B9 * (2 * i + 1)) & 0x7FFFFFFF) | 1
    b = (0xBF58476D * (i + 1)) & 0x7FFFFFFF
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_size: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Add a ``signature`` array<bigint> column: for each of ``num_hashes``
    seeded hash functions, the min hash over the doc's shingles. Returns
    (``id_col``, ``text_col``, signature).

    One narrow pass, no shuffle, no UDF: the whole projection is one
    Spark SQL text (:func:`_minhash_sql`), a single HOF fold over the
    shingles that hashes each shingle ONCE and updates all
    ``num_hashes`` running minima in one ``zip_with`` against a literal
    array of (multiplier, offset) structs. This replaces the earlier
    per-seed form (64 separate transform+array_min traversals of the
    hash array, ~5x slower) and a two-``zip_with`` form that first built
    the candidate array, then took the pairwise minimum. Each
    permutation is the standard universal-hashing family pmod(h31*A_i +
    B_i, 2^31-1); with the base hash masked to 31 bits, a*h + b < 2^62,
    so no bigint overflow (ANSI mode throws on wrap). The mod p is
    essential: without it the map is monotone in h31 and every seed
    would pick the same min-shingle. NULL text folds to a NULL
    signature, a doc with no shingle to the all-``Long.MAX`` init array
    (the pair generators' content filter drops both).

    ``base_hash`` picks the 31-bit shingle hash feeding the permutation
    family: ``"xxhash64"`` (default — the fastest JVM path, no SQL
    twin) or ``"md5"`` (first 16 hex chars of md5 parsed as uint64, mod
    2^31-1 — bit-identical in DuckDB via
    ``CAST('0x' || substring(md5(g),1,16) AS UBIGINT) % 2147483647``,
    which lets an oracle replay the ENTIRE signature matrix, banding
    and pair set cross-engine). Same signature laws either way; md5
    costs one digest per shingle instead of one xxhash — fine for
    gates and audits, measurably slower as the 100 TB default."""
    fold = _minhash_sql(
        word_shingles_sql(sql_ident(text_col), shingle_size), num_hashes, base_hash
    )
    return _spread(df.select(id_col, text_col)).selectExpr(
        sql_ident(id_col), sql_ident(text_col), f"{fold} AS signature"
    )


def _shingle_hash_sql(g: str, base_hash: str) -> str:
    """The 31-bit hash of the shingle ``g`` as Spark SQL text (see
    :func:`minhash_signatures` for the two ``base_hash`` families)."""
    if base_hash == "xxhash64":
        return f"xxhash64({g}) & 2147483647L"
    if base_hash == "md5":
        return (
            f"cast(pmod(cast(conv(substring(md5({g}), 1, 16), 16, 10) "
            "as decimal(20,0)), 2147483647) as bigint)"
        )
    raise ValueError(f"unknown base_hash: {base_hash!r}")


def _permutation_sql(h: str, a: str, b: str) -> str:
    """Permutation (``a``, ``b``) of the 31-bit hash ``h`` as Spark SQL
    text; the signature keeps its minimum over the doc's shingles."""
    return f"pmod({h} * {a} + {b}, 2147483647L)"


def _minhash_sql(grams: str, num_hashes: int, base_hash: str) -> str:
    """The MinHash signature of the shingle array ``grams`` as Spark SQL
    text (see :func:`minhash_signatures`)."""
    h31 = _shingle_hash_sql("g", base_hash)
    mix = ", ".join(
        "named_struct('a', {}, 'b', {})".format(*minhash_mix(i))
        for i in range(num_hashes)
    )
    return (
        f"aggregate(transform({grams}, g -> {h31}), "
        f"array_repeat(9223372036854775807L, {num_hashes}), "
        f"(acc, h) -> zip_with(acc, array({mix}), "
        f"(cur, s) -> least(cur, {_permutation_sql('h', 's.a', 's.b')})))"
    )


def _eager_release(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` (eager localCheckpoint), then unpersist the
    cached intermediates so repeated calls in one session don't accumulate
    executor storage until eviction. The checkpoint blocks themselves are
    reference-counted by the ContextCleaner (released when the returned
    DataFrame is garbage-collected), and checkpointing also truncates
    lineage, so downstream reuse of the (small) pair set never recomputes
    the hash work. The MinHash paths do without it: they checkpoint
    their signature tables eagerly instead of persisting them
    (:func:`_signature_table`), and those blocks are freed the same way
    as a result's."""
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def _bands_sql(sig: str, num_bands: int, rows_per_band: int) -> str:
    """The LSH bands of the signature ``sig`` as Spark SQL text: an array
    of (band, bucket) structs, bucket = hash of that band's slice."""
    piece = f"slice({sig}, b * {rows_per_band} + 1, {rows_per_band})"
    return (
        f"transform(sequence(0, {num_bands - 1}), b -> named_struct('band', b, "
        f"'bucket', xxhash64(concat_ws({sql_string(',')}, "
        f"transform({piece}, x -> CAST(x AS STRING))))))"
    )


def _band_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each signature into its LSH band buckets: one (id, band,
    bucket) row per band, where bucket = hash of that band's signature
    slice; ``carry`` adds SQL select items after ``id``. The bucket index
    is the joinable form of a corpus's minhash state — equi-joins on
    (band, bucket) replace all-pairs work."""
    return sigs.selectExpr(
        f"{sql_ident(id_col)} AS id",
        *carry,
        f"inline({_bands_sql('signature', num_bands, rows_per_band)})",
    )


def _overlap_sql(left: str, right: str, num_hashes: int) -> str:
    """The fraction of equal positions of two signatures as Spark SQL
    text — an unbiased Jaccard estimate."""
    return (
        f"size(filter(zip_with({left}, {right}, (x, y) -> x = y), e -> e)) "
        f"/ {num_hashes}"
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signatures and self-join on (band, band-hash) buckets.
    Returns candidate (a, b) pairs with a < b, deduplicated across bands.
    Shuffle key = (band index, band hash): uniformly distributed unless
    the corpus is degenerate, and AQE skew-join splits hot buckets."""
    exploded = _band_buckets(sigs, id_col, num_bands, rows_per_band)
    return (
        exploded.selectExpr("id AS a", "band", "bucket")
        .join(exploded.selectExpr("id AS b", "band", "bucket"), ["band", "bucket"])
        .where("a < b")
        .select("a", "b")
        .distinct()
    )


def _signature_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_size: int,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(``id_col``, signature) of every doc with at least one shingle,
    one row per input row (a repeated or NULL id keeps a signature per
    row), computed once: an eager ``localCheckpoint``. The table feeds
    the band join and both verify sides; persisted instead, AQE
    submitted those exchanges as concurrent jobs that queued on the same
    blocks, and every stage re-planned the signatures.

    The plan (:func:`_signature_plan`) uses Spark's code-generated
    operators, not the lambda fold of :func:`minhash_signatures`: each
    row gets a row key, the rows are hash-partitioned on it (the one
    exchange, in place of ``spread``'s round-robin one), the shingles
    are exploded and hashed, and an aggregate grouped on (id, row key)
    takes the ``num_hashes`` ``min`` permutations into one array. The
    grouping keys hold the partition key, so the partial and final
    aggregates run in the exchange's stage. Higher-order functions run
    interpreted, and the fold made one lambda call per shingle and seed,
    about 11.5M on perfbench's 3,120-doc corpus; there the table took
    0.66 s against the fold's 0.85-0.92 s (median of 7, ``local[4]`` on
    a shared 4-vCPU host).

    Scale: the aggregate's hash map holds one buffer of ``num_hashes``
    longs per doc of a task, about 0.6 KB at 64, where the fold held
    nothing beyond its row; under memory pressure Spark falls back to a
    sort-based aggregate, which bounds it. :func:`minhash_signatures`
    and so :func:`stream_near_dup_flags` keep the fold: it is one narrow
    projection, where on a stream a grouped aggregate would need state
    across micro-batches."""
    return _signature_plan(
        df, text_col, id_col, num_hashes, shingle_size, base_hash
    ).localCheckpoint(eager=True)


def _signature_plan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_size: int,
    base_hash: str,
) -> DataFrame:
    """The plan behind :func:`_signature_table`."""
    h31 = _shingle_hash_sql("__g", base_hash)
    mins = ", ".join(
        "min({})".format(_permutation_sql("__h", *map(str, minhash_mix(i))))
        for i in range(num_hashes)
    )
    # the row key gets its own projection: beside the explode it would
    # be evaluated once per shingle
    rows = _with_content(df, text_col, min_words=shingle_size).selectExpr(
        sql_ident(id_col),
        sql_ident(text_col),
        "monotonically_increasing_id() AS __row_key",
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    hashes = (
        rows.repartition(par, "__row_key")
        .selectExpr(
            sql_ident(id_col),
            "__row_key",
            f"explode({word_shingles_sql(sql_ident(text_col), shingle_size)}) AS __g",
        )
        .selectExpr(sql_ident(id_col), "__row_key", f"{h31} AS __h")
    )
    return (
        hashes.groupBy(id_col, "__row_key")
        .agg(F.expr(f"array({mins})").alias("signature"))
        .select(id_col, "signature")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    shingle_size: int = 3,
    num_bands: int = 16,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs (a, b, est_jaccard): LSH candidates verified by
    exact signature overlap (fraction of equal minhash positions — an
    unbiased Jaccard estimate)."""
    sigs = _signature_table(df, text_col, id_col, num_hashes, shingle_size, base_hash)
    cands = lsh_candidate_pairs(sigs, id_col, num_bands, num_hashes // num_bands)
    sa = sigs.selectExpr(f"{sql_ident(id_col)} AS a", "signature AS sig_a")
    sb = sigs.selectExpr(f"{sql_ident(id_col)} AS b", "signature AS sig_b")
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .selectExpr("a", "b", f"{_overlap_sql('sig_a', 'sig_b', num_hashes)} AS est_jaccard")
        .where(f"est_jaccard >= {sql_literal(float(threshold))}")
        .localCheckpoint(eager=True)
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Undirected edges (a, b) -> (id, component) where component = min
    id reachable. Thin adapter over the engine's one components operator
    (operators/components.py), keeping this module's historical (id,
    component) schema: integral pair ids up to ``DRIVER_MAX_EDGES`` edges
    are labeled by a union-find on the driver, other edge sets by the
    alternating large-star/small-star contraction (O(log n) rounds with
    per-round lineage truncation, at most ``max_iterations`` of them).

    Edge-case contract: self-loops (a, a) are canonicalized away on both
    routes, so a node appearing *only* in self-loops is absent from
    the output (the pre-round-2 label-propagation version emitted it as
    its own singleton). Benign for this module's pair emitters, which
    never produce a == b; union in (id, id) singletons yourself if you
    feed external edge lists that rely on the old behavior."""
    from .components import connected_components as _cc

    return _cc(edges, src="a", dst="b", max_iter=max_iterations).select(
        F.col("node").alias("id"), "component"
    )


def dedup_near_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """Remove near-duplicates: keep each connected component's min-id
    representative plus every unpaired doc."""
    pairs = minhash_near_dup_pairs(df, text_col, id_col, threshold, **kwargs)
    comps = connected_components(pairs)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def ngram_jaccard_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs ACROSS two corpora: (a, b,
    jaccard) with ``a`` from ``left`` and ``b`` from ``right`` — the
    two-sided companion of :func:`ngram_jaccard_pairs` (batch-vs-corpus
    verification, train-vs-eval screening). The inverted-index join work
    is Σ df_left·df_right per gram — when one side is small (an eval
    slice, a daily batch) this is far below the self-join's Σdf², which
    is why it gets its own shape instead of filtering the self-join's
    output. The lossless size prune (J >= t forces t·max <= min) drops
    mismatched-size pairs inside the join."""
    gl = _spread(
        _with_content(left, text_col, min_words=n).select(id_col, text_col)
    ).select(
        F.col(id_col).alias("a"),
        word_shingles(F.col(text_col), n).alias("ga"),
    ).withColumn("size_a", F.size("ga"))
    gr = _spread(
        _with_content(right, text_col, min_words=n).select(id_col, text_col)
    ).select(
        F.col(id_col).alias("b"),
        word_shingles(F.col(text_col), n).alias("gb"),
    ).withColumn("size_b", F.size("gb"))
    il = gl.select("a", "size_a", F.explode("ga").alias("gram"))
    ir = gr.select("b", "size_b", F.explode("gb").alias("gram"))
    t = F.lit(float(threshold))
    common = (
        il.join(
            ir,
            (il["gram"] == ir["gram"])
            & (il["size_a"] >= t * ir["size_b"])
            & (ir["size_b"] >= t * il["size_a"]),
        )
        .groupBy("a", "b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jaccard = (
        F.col("common")
        / (F.col("size_a") + F.col("size_b") - F.col("common"))
    ).cast("double")
    return (
        common.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def incremental_near_dup_flags(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    shingle_size: int = 3,
    num_bands: int = 16,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Flag documents in an incoming ``batch`` that are near-duplicates
    of ANY document already in ``corpus`` — the daily-ingestion shape of
    minhash dedup. Returns (id, max_est_jaccard, n_corpus_dups) per
    flagged batch doc.

    At 100 TB the point is what this does NOT do: no corpus×corpus pair
    work, no recompute of previous batches. The corpus contributes only
    its signature table — pass a persisted ``corpus_sigs`` snapshot
    (:func:`minhash_signatures` output, stored once per corpus version,
    appended as batches are accepted) and the per-batch cost is hashing
    the batch plus one (band, bucket) equi-join against the corpus
    bucket index; the corpus side streams through the join shuffle
    without ever pairing with itself. Candidates verify by exact
    signature overlap (unbiased Jaccard estimate), same contract as
    :func:`minhash_near_dup_pairs`."""
    rows_per_band = num_hashes // num_bands
    if corpus_sigs is None:
        corpus_sigs = _signature_table(corpus, text_col, id_col, num_hashes, shingle_size)
    batch_sigs = _signature_table(batch, text_col, id_col, num_hashes, shingle_size)
    cb = _band_buckets(batch_sigs, id_col, num_bands, rows_per_band)
    cc = _band_buckets(corpus_sigs, id_col, num_bands, rows_per_band)
    cands = (
        cb.join(cc.withColumnRenamed("id", "corpus_id"), ["band", "bucket"])
        .select("id", "corpus_id")
        .distinct()
    )
    sb = batch_sigs.selectExpr(f"{sql_ident(id_col)} AS id", "signature AS sig_b")
    sc = corpus_sigs.selectExpr(f"{sql_ident(id_col)} AS corpus_id", "signature AS sig_c")
    return (
        cands.join(sb, "id")
        .join(sc, "corpus_id")
        .selectExpr("id", f"{_overlap_sql('sig_b', 'sig_c', num_hashes)} AS est_jaccard")
        .where(f"est_jaccard >= {sql_literal(float(threshold))}")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.max("est_jaccard").alias("max_est_jaccard"),
            F.count(F.lit(1)).alias("n_corpus_dups"),
        )
        .localCheckpoint(eager=True)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 2,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash: per bit, the sign of the sum of ±1 votes from each
    feature hash. Features are word ``shingle_size``-grams — unigrams are
    too coarse when documents share a small vocabulary (every doc hashes
    near every other); bigrams+ capture ordering.

    ``base_hash``: ``"xxhash64"`` (default, fastest JVM path) or
    ``"md5"`` — the 64 vote bits come from the first 16 hex chars of
    md5, parsed as two 32-bit halves (bits 0-31 from chars 9-16, bits
    32-63 from chars 1-8), which DuckDB parses identically via
    ``CAST('0x' || substring(md5(g), ..) AS BIGINT)`` — the replayable
    family an oracle can recompute fingerprint-for-fingerprint."""
    # single fold over the feature hashes: accumulate all 64 bit-votes in
    # one array pass, then assemble the sign bits. Written as a SQL HOF
    # expression because shiftright/shiftleft accept column-valued shift
    # amounts there (the Python API requires literals, which would force 64
    # separate folds over the same array).
    base = _spread(df.select(id_col, text_col)).withColumn(
        "__grams", word_shingles(F.col(text_col), shingle_size)
    )
    if base_hash == "xxhash64":
        fingerprint = F.expr(
            """
            aggregate(
              transform(__grams, g -> xxhash64(g)),
              array_repeat(0, 64),
              (acc, h) -> zip_with(acc, sequence(0, 63),
                                   (a, i) -> a + CASE WHEN (shiftright(h, i) & 1) = 1
                                                  THEN 1 ELSE -1 END),
              votes -> aggregate(
                zip_with(votes, sequence(0, 63),
                         (v, i) -> IF(v > 0, shiftleft(1L, i), 0L)),
                0L, (acc, x) -> acc + x)
            )
            """
        )
    elif base_hash == "md5":
        fingerprint = F.expr(
            """
            aggregate(
              transform(__grams, g -> named_struct(
                'hi', cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint),
                'lo', cast(conv(substring(md5(g), 9, 8), 16, 10) as bigint))),
              array_repeat(0, 64),
              (acc, h) -> zip_with(acc, sequence(0, 63),
                  (a, i) -> a + CASE WHEN (IF(i < 32,
                                              shiftright(h.lo, i),
                                              shiftright(h.hi, i - 32))
                                           & 1) = 1
                                 THEN 1 ELSE -1 END),
              votes -> aggregate(
                zip_with(votes, sequence(0, 63),
                         (v, i) -> IF(v > 0, shiftleft(1L, i), 0L)),
                0L, (acc, x) -> acc + x)
            )
            """
        )
    else:
        raise ValueError(f"unknown base_hash: {base_hash!r}")
    # callers must pre-filter docs with no shingles (_with_content with
    # min_words) — an empty gram set would fold to fingerprint 0 here
    return base.withColumn("simhash", fingerprint).drop("__grams")


def _simhash_chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """(start_bit, width) for ``n_chunks`` contiguous chunks covering the
    64-bit fingerprint, widths differing by at most one bit."""
    bounds = []
    pos = 0
    for c in range(n_chunks):
        width = 64 // n_chunks + (1 if c < 64 % n_chunks else 0)
        bounds.append((pos, width))
        pos += width
    return bounds


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_size: int = 2,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming, blocked on
    ``max_hamming + 1`` bit chunks: at most ``max_hamming`` bits differ,
    so by pigeonhole at least one chunk is bit-identical and every true
    pair meets in an equi-join bucket — the join is never cross, and the
    recall guarantee holds for ANY max_hamming in [0, 63] (a fixed 4-chunk
    scheme only guarantees distance <= 3)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError("max_hamming must be in [0, 63] for 64-bit simhash")
    n_chunks = max_hamming + 1
    # both join sides read the fingerprints — persist so the hash fold
    # runs once
    fps = simhash(
        _with_content(df, text_col, min_words=shingle_size),
        text_col,
        id_col,
        shingle_size,
        base_hash,
    ).persist()
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                (
                    F.col("simhash")
                    if width == 64
                    else F.shiftright(F.col("simhash"), start).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                ).alias("key"),
            )
            for c, (start, width) in enumerate(_simhash_chunk_bounds(n_chunks))
        ]
    )
    blocked = fps.select(
        F.col(id_col).alias("id"), "simhash", F.explode(chunks).alias("ck")
    ).select("id", "simhash", "ck.chunk", "ck.key")
    l, r = blocked.alias("l"), blocked.alias("r")
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    pairs = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _eager_release(pairs, fps)


# --------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted index
# --------------------------------------------------------------------------


#: dense-regime gates for :func:`_choose_jaccard_method`: the packed
#: bitset matrix must broadcast comfortably (cells = docs × vocab bits,
#: 512M cells = 64 MB packed) and the blocked-matmul work must stay small
#: (docs² × vocab multiply-adds; 2e12 ≈ a few seconds across a node).
DENSE_MAX_DOCS = 200_000
DENSE_MAX_CELLS = 512_000_000
DENSE_MAX_MULS = 2_000_000_000_000

#: mid-band gate: choose the plain inverted-index join when its exact
#: join size Σdf² stays under ``INDEX_WORK_PER_CORE × defaultParallelism``
#: rows. Round 3 used a flat 2e9 bound sized for a 1000-executor fleet —
#: wrong on the 32-core node it actually ran on (the 30× probe sat just
#: under the bound at 401 s). The bound now scales with the cluster:
#: 64M joined (id,id) rows per core is tens of seconds of join+aggregate
#: work per core, so the "fast path" stays fast on ANY cluster size —
#: local[32] ⇒ ~2e9 (matching the measured regime where index still beat
#: prefix 4.7×), a 1000-executor/16-core fleet ⇒ ~1e12. Above the bound,
#: PPJoin's prefix filter is the only sub-Σdf² plan (Zipfian rare tail);
#: in a uniform-vocabulary regime with no rare tail both plans are
#: Σdf²-bound and index still wins on constants, which is why the
#: per-core constant is calibrated to keep index selected right through
#: the measured 30× probe (Σdf² ≈ 1.93e9 on 32 cores).
INDEX_WORK_PER_CORE = 64_000_000

#: absolute row cap on the auto selector's (gram, df) driver fetch —
#: ~a hundred MB of strings at the cap. Only binding under
#: DENSE_MAX_CELLS / DENSE_MAX_FETCH = 128 docs (tiny-corpus corner,
#: where every strategy is fast and exact)
DENSE_MAX_FETCH = 4_000_000

#: target rows per reduce task for the Σdf² pair aggregation — achieved
#: via AQE's initialPartitionNum (session.py), NOT an explicit
#: repartition (which would defeat map-side partial aggregation; see the
#: measured-dead-end note in ngram_jaccard_pairs' index branch).
INDEX_ROWS_PER_TASK = 5_000_000


def index_max_work(parallelism: int) -> int:
    """Cluster-proportional Σdf² bound for the index-vs-prefix gate."""
    return INDEX_WORK_PER_CORE * max(1, int(parallelism))


def _choose_jaccard_method(
    n_docs: int,
    n_grams: int,
    sum_df2: int | None = None,
    parallelism: int = 32,
    skip_dense: bool = False,
) -> str:
    """Pick the exact-Jaccard strategy from cheap corpus stats.

    ``dense`` — broadcast packed-bitset + blocked matmul — wins when the
    vocabulary is so small/uniform that every gram is a stopword-gram
    (inverted-index join size Σdf² → n_docs²·avg_set, quadratic), AND the
    whole corpus bitset fits in a broadcast with bounded pairwise work.

    ``index`` — plain inverted-index join — wins the mid band where the
    bitset matrix no longer fits/pays but the exact join size ``sum_df2``
    (Σ over grams of document-frequency², one cheap aggregation) is still
    bounded: measured 33.6 s vs prefix's 156.7 s at a 50k-doc ~9.3k-gram
    uniform-vocabulary probe (tools/scale_probe.py 10×).

    ``prefix`` — PPJoin — is the open-scale default: web-scale corpora
    have Zipfian vocabularies, so each doc's prefix is a handful of
    genuinely rare grams and the index join touches only the rare tail
    (Σdf² itself is unbounded there, which is exactly when the gate
    above fails). All three are exact; the regimes are pinned by
    measurement in tests/test_dedup_methods.py.

    ``skip_dense`` states explicitly that the dense box was already
    evaluated and rejected by the caller (the auto path checks it first
    with a capped vocabulary fetch); ``parallelism`` sizes the index
    bound to the actual cluster via :func:`index_max_work`."""
    if not skip_dense and (
        n_docs <= DENSE_MAX_DOCS
        and n_docs * n_grams <= DENSE_MAX_CELLS
        and n_docs * n_docs * n_grams <= DENSE_MAX_MULS
    ):
        return "dense"
    if sum_df2 is not None and sum_df2 <= index_max_work(parallelism):
        return "index"
    return "prefix"


def _jaccard_keep(threshold: float):
    """The block-pair keep predicate of exact Jaccard: ``common /
    (|A| + |B| - common) >= threshold`` in float64, bit-identical to
    SQL's division; the value is the ``jaccard`` column."""
    import numpy as np

    t = float(threshold)

    def keep(common, dot, size_a, size_b):
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = common / (size_a[:, None] + size_b[None, :] - common)
        return jac >= t, jac

    return keep


def _gram_bitsets(grams: DataFrame, vocab: list):
    """Each doc's gram set packed into a bitset over ``vocab`` on the
    executors, collected in ascending id order: ``(ids, packed bits,
    set sizes)``."""
    import numpy as np
    import pandas as pd

    v = len(vocab)
    id_type = grams.schema["id"].dataType.simpleString()
    bc_gid = grams.sparkSession.sparkContext.broadcast(
        {g: i for i, g in enumerate(vocab)}
    )

    def pack(batches):
        g = bc_gid.value
        for pdf in batches:
            out_id, out_bits = [], []
            for id_, gs in zip(pdf["id"], pdf["grams"]):
                bits = np.zeros(v, dtype=np.uint8)
                if len(gs):
                    bits[[g[x] for x in gs]] = 1
                out_id.append(id_)
                out_bits.append(np.packbits(bits).tobytes())
            yield pd.DataFrame({"id": out_id, "bits": out_bits})

    packed = (
        grams.select("id", "grams")
        .mapInPandas(pack, f"id {id_type}, bits binary")
        .collect()
    )
    packed.sort(key=lambda r: r["id"])
    mat = np.frombuffer(b"".join(r["bits"] for r in packed), dtype=np.uint8)
    mat = mat.reshape(len(packed), (v + 7) // 8)
    sizes = np.unpackbits(mat, axis=1, count=v).sum(axis=1).astype(np.float64)
    return np.asarray([r["id"] for r in packed]), mat, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.5,
    max_token_doc_freq: int | None = None,
    method: str = "auto",
) -> DataFrame:
    """Exact Jaccard over distinct word n-gram sets. Three strategies,
    all exact; ``method='auto'`` (default) picks per-corpus from three
    cheap stats (doc count, vocab size, and — outside the dense box —
    the exact inverted-index join size Σdf²; each is one metadata fetch
    or aggregation pass):

    - ``dense`` (auto, small-corpus regime): packed gram bitsets scored
      by the package's one block-pair scorer (operators/blockpairs.py,
      driver layout). Chosen when the vocabulary is tiny/uniform — the
      regime where inverted indexes degenerate to Σdf² ≈ n²·avg_set with
      shuffle-join constants; measured ~5× faster than 'index' on the
      931-gram test fixture. Bounded by :data:`DENSE_MAX_DOCS`/CELLS/MULS
      so it can never be selected at scale.
    - ``prefix`` (auto, everything else — the 100 TB default): PPJoin-
      style prefix-filtered inverted index (Xiao et al. 2008). Sort each
      doc's gram set by global (doc-frequency, gram) order and index only
      the first ``|A| - ceil(t*|A|) + 1`` grams — any two sets with
      Jaccard >= t must share a prefix gram, so no true pair is lost,
      while the index join drops from Σdf² (stopword-grams) to the
      rare-gram tail; Zipfian web-scale vocabularies make that tail a
      handful of grams per doc. Candidates verify exactly via
      array_intersect.
    - ``index`` (auto, mid band): full inverted-index join — wins when
      Σdf² is bounded (:func:`index_max_work`, proportional to the
      cluster's ``defaultParallelism``) but the bitset matrix no
      longer fits/pays (measured: 3× faster than prefix at sf0.1,
      Σdf²=73M; 4.7× at the 50k-doc 10× probe, Σdf²≈640M — and index
      grows ~quadratically exactly as Σdf² predicts, which is why the
      gate is on Σdf² itself, computed exactly by one aggregation).

    ``max_token_doc_freq`` hard-drops ultra-common grams before pairing
    (approximate — a pair sharing only dropped grams is lost; off by
    default because the operator's contract is the exact answer, and the
    auto selector already avoids the regimes a cap would paper over)."""
    # spread BEFORE the shingle projection: HOF shingling is interpreted
    # per-row work, and the input is often a single parquet split — the
    # repartition must come first or one core does all the shingling
    grams = _spread(
        _with_content(df, text_col, min_words=n).select(id_col, text_col)
    ).select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), n).alias("grams"),
    ).withColumn("set_size", F.size("grams"))

    vocab = None
    if method == "auto":
        # Round-14 (guide §1.2 — don't compute things twice, in EITHER
        # regime): the r13 "one-pass" fold computed (v, Σdf²) in one
        # stats aggregation but then let the dense branch re-derive the
        # vocab LIST with a THIRD full gram pass (+~0.7 s at sf0.1 —
        # the one clean-load regression the r13 verdict left
        # unadjudicated). Small corpora (n_docs <= DENSE_MAX_DOCS, the
        # only regime where dense is reachable) now collect the capped
        # per-gram (gram, df) rows in ONE gram pass: the rows give the
        # exact vocabulary size AND Σdf² AND the vocab list the dense
        # packer needs — two gram passes total incl. the pack, the r12
        # count, with the r13 selector's exact Σdf² gate kept. Large
        # corpora (the 100 TB path) keep the r13 single streaming
        # stats pass — no capped fetch, no driver list. NOT persisted:
        # the gram sets recompute in ~1/10th the time the block cache
        # takes to encode nested string arrays (measured at sf0.1:
        # 4.5 s persist vs 0.5 s/recompute). The doc count is the
        # UNFILTERED input count — parquet answers it from footer
        # metadata without a scan, and an upper bound is exactly what
        # a conservative dense-regime gate needs.
        n_docs = df.count()
        par = df.sparkSession.sparkContext.defaultParallelism

        def _full_stats(skip_dense: bool) -> str:
            stats = (
                grams.select(F.explode("grams").alias("gram"))
                .groupBy("gram")
                .agg(F.count(F.lit(1)).alias("df"))
                .agg(
                    F.count(F.lit(1)).alias("v"),
                    F.sum(F.col("df") * F.col("df")).alias("w"),
                )
                .collect()[0]
            )
            return _choose_jaccard_method(
                n_docs,
                int(stats["v"] or 0),
                sum_df2=int(stats["w"] or 0),
                parallelism=par,
                skip_dense=skip_dense,
            )

        if n_docs == 0:
            method = "prefix"
        elif n_docs <= DENSE_MAX_DOCS:
            # capped driver fetch: v_cap rows is at most DENSE_MAX_FETCH
            # (~a hundred MB) and within the dense box at most
            # CELLS/n_docs; the +1 sentinel row detects overflow
            v_cap = min(
                DENSE_MAX_CELLS // n_docs,
                DENSE_MAX_MULS // (n_docs * n_docs),
                DENSE_MAX_FETCH,
            )
            rows = (
                grams.select(F.explode("grams").alias("gram"))
                .groupBy("gram")
                .agg(F.count(F.lit(1)).alias("df"))
                .limit(int(v_cap) + 1)
                .collect()
            )
            if len(rows) <= v_cap:
                # the fetch holds the WHOLE vocabulary: v and Σdf² are
                # exact, and the dense packer gets its vocab for free
                sum_df2 = sum(int(r["df"]) ** 2 for r in rows)
                method = _choose_jaccard_method(
                    n_docs, len(rows), sum_df2=sum_df2, parallelism=par
                )
                if method == "dense":
                    vocab = sorted(r["gram"] for r in rows)
            else:
                # vocabulary overflows the dense box (or the fetch cap,
                # possible only under ~CELLS/FETCH = 128 docs — any
                # strategy is fast there and all are exact)
                method = _full_stats(skip_dense=True)
        else:
            method = _full_stats(skip_dense=False)

    if method == "dense":
        import numpy as np

        from .blockpairs import driver_block_pairs

        if vocab is None:
            vocab = sorted(
                r["gram"]
                for r in grams.select(F.explode("grams").alias("gram"))
                .distinct()
                .collect()
            )
        ids, bits, sizes = _gram_bitsets(grams, vocab)
        v = len(vocab)
        return driver_block_pairs(
            grams.sparkSession,
            ids,
            bits,
            sizes,
            _jaccard_keep(threshold),
            grams.schema["id"].dataType.simpleString(),
            "jaccard",
            unpack=lambda rows: np.unpackbits(rows, axis=1, count=v),
        )

    if method == "index":
        inv = grams.select("id", "set_size", F.explode("grams").alias("gram"))
        if max_token_doc_freq is not None:
            freq = inv.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
            inv = inv.join(
                freq.filter(F.col("df") <= max_token_doc_freq).select("gram"),
                "gram",
            )
        l, r = inv.alias("l"), inv.alias("r")
        # lossless size prune: J(A,B) <= min/max of set sizes, so J >= t
        # forces t*max <= min — drop mismatched-size pairs inside the join,
        # before they reach the pair aggregation
        t = F.lit(float(threshold))
        joined = l.join(
            r,
            (F.col("l.gram") == F.col("r.gram"))
            & (F.col("l.id") < F.col("r.id"))
            & (F.col("l.set_size") >= t * F.col("r.set_size"))
            & (F.col("r.set_size") >= t * F.col("l.set_size")),
        ).select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.col("l.set_size").alias("size_a"),
            F.col("r.set_size").alias("size_b"),
        )
        # The pair aggregation moves Σdf² rows — at the regime's upper
        # bound that is billions of rows, so the REDUCE side must not be
        # sized by the session's default partition count (the r3 30×
        # probe measured a super-linear 401 s spill tail at Σdf² ≈
        # 1.93e9 over 32 reduce tasks). Reducer sizing comes from AQE's
        # high initialPartitionNum (session.py): the final aggregation
        # starts wide and AQE coalesces small shuffles back.
        #
        # Measured dead end, kept as a warning: an explicit
        # `joined.repartition(n, "a", "b")` before the groupBy DOES give
        # n reduce tasks, but because the repartition satisfies the
        # aggregate's required distribution Catalyst plans a single
        # COMPLETE aggregation — the map-side partial combine disappears,
        # the shuffle write grows to the full Σdf² row volume, and the
        # 30× probe's map stage OOMs an 8g heap where the partial-agg
        # plan survived. Partial aggregation is worth more than exact
        # reducer counts here.
        common = joined.groupBy("a", "b", "size_a", "size_b").agg(
            F.count(F.lit(1)).alias("common")
        )
        jaccard = (
            F.col("common")
            / (F.col("size_a") + F.col("size_b") - F.col("common"))
        ).cast("double")
        return (
            common.withColumn("jaccard", jaccard)
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )

    if method != "prefix":
        raise ValueError("method must be 'auto', 'dense', 'index' or 'prefix'")
    grams = grams.persist()
    inv = grams.select("id", F.explode("grams").alias("gram"))
    freq = inv.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    if max_token_doc_freq is not None:
        freq = freq.filter(F.col("df") <= max_token_doc_freq)
    ranked = inv.join(freq, "gram")
    w = W.partitionBy("id").orderBy("df", "gram")
    prefix_len = (
        F.col("set_size") - F.ceil(F.col("set_size") * F.lit(threshold)) + 1
    )
    prefix = (
        ranked.withColumn("__pos", F.row_number().over(w))
        .join(grams.select("id", "set_size"), "id")
        .filter(F.col("__pos") <= prefix_len)
        .select("id", "gram")
    )
    l, r = prefix.alias("l"), prefix.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.gram") == F.col("r.gram")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )
    ga = grams.select(F.col("id").alias("a"), F.col("grams").alias("ga"),
                      F.col("set_size").alias("size_a"))
    gb = grams.select(F.col("id").alias("b"), F.col("grams").alias("gb"),
                      F.col("set_size").alias("size_b"))
    verified = (
        cands.join(ga, "a")
        .join(gb, "b")
        .withColumn("common", F.size(F.array_intersect("ga", "gb")))
    )
    jaccard = (
        F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    ).cast("double")
    pairs = (
        verified.withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return _eager_release(pairs, grams)


# --------------------------------------------------------------------------
# Cross-corpus span dedup (the C4 line-dedup recipe on span units)
# --------------------------------------------------------------------------


def dedup_spans_across_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
) -> DataFrame:
    """Corpus-level duplicate-span removal: split every document into
    consecutive ``span_words``-word spans, keep each distinct span text
    only at its first occurrence (lowest (doc_id, position)), and
    reassemble the surviving spans in order — C4's
    remove-duplicated-lines curation step (Raffel et al. 2020 §2.2) with
    a fixed word window as the unit, since the unit boundary is a
    parameter, not a semantic.

    Scale shape: explode to (doc, pos, span) → one span-keyed shuffle
    finds the global first occurrence (min struct aggregation, no
    collect) → one doc-keyed shuffle reassembles. Both keys are the
    natural partitioning of their stage; a duplicated span that appears
    a million times costs one group, not a blowup.

    Returns (id, clean_text, n_spans_kept, n_spans_total).
    """
    toks = F.filter(
        F.split(F.col(text_col), "\\s+"), lambda t: t != F.lit("")
    )
    n_spans = F.ceil(F.size("__toks") / F.lit(span_words)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), F.greatest(n_spans - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.slice("__toks", i * span_words + 1, span_words)
        ),
    )
    exploded = (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col).alias("__id"), toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("__id", F.posexplode(spans).alias("pos", "span"))
    )
    first = exploded.groupBy("span").agg(
        F.min(F.struct("__id", "pos")).alias("first_at")
    )
    kept = exploded.join(first, "span").withColumn(
        "keep",
        (F.col("first_at.__id") == F.col("__id"))
        & (F.col("first_at.pos") == F.col("pos")),
    )
    return (
        kept.groupBy("__id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"), F.struct("pos", "span")
                            )
                        )
                    ),
                    lambda s: s["span"],
                ),
            ).alias("clean_text"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias(
                "n_spans_kept"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_spans_total"),
        )
        .select(
            F.col("__id").alias(id_col),
            "clean_text",
            "n_spans_kept",
            "n_spans_total",
        )
    )


# --------------------------------------------------------------------------
# Asymmetric containment (benchmark decontamination)
# --------------------------------------------------------------------------


def containment_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.8,
    method: str = "prefix",
) -> DataFrame:
    """Exact asymmetric n-gram containment: (t_id, e_id, containment)
    where containment = |T∩E| / |T| >= threshold — the decontamination
    measure (how much of a TRAINING doc's gram set an eval doc covers).

    ``prefix`` (default, the 100 TB path): containment >= t means T
    misses at most (1-t)·|T| of E's grams, so ANY (1-t)·|T|+1 grams of T
    must include a shared one (pigeonhole) — index only that prefix of
    T, choosing T's grams RAREST ON THE EVAL SIDE first (eval-absent
    grams have df 0, generating zero candidates), against the full eval
    inverted index, then verify candidates exactly via array_intersect.
    The join size falls from Σ(df_t·df_e) over all grams (quadratic on
    stopword-grams) to the eval-rare tail. Unlike the symmetric Jaccard
    prefix, only the probe side is prefixed — the indexed (eval) side
    must stay complete for the bound to hold.

    ``index``: the plain inverted-index join counting shared grams per
    pair — fine when the corpora are small or gram frequencies are
    bounded, Σdf² otherwise.
    """
    gt = _spread(
        _with_content(train, text_col, min_words=n).select(id_col, text_col)
    ).select(
        F.col(id_col).alias("t_id"),
        word_shingles(F.col(text_col), n).alias("gt"),
    ).withColumn("t_size", F.size("gt"))
    ge = _spread(
        _with_content(eval_df, text_col, min_words=n).select(id_col, text_col)
    ).select(
        F.col(id_col).alias("e_id"),
        word_shingles(F.col(text_col), n).alias("ge"),
    )
    e_inv = ge.select("e_id", F.explode("ge").alias("gram"))

    if method == "index":
        t_inv = gt.select("t_id", "t_size", F.explode("gt").alias("gram"))
        common = (
            t_inv.join(e_inv, "gram")
            .groupBy("t_id", "t_size", "e_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        return common.select(
            "t_id",
            "e_id",
            (F.col("n_common").cast("double") / F.col("t_size")).alias(
                "containment"
            ),
        ).filter(F.col("containment") >= threshold)

    if method != "prefix":
        raise ValueError("method must be 'prefix' or 'index'")

    gt = gt.persist()
    ge = ge.persist()
    t_inv = gt.select("t_id", "t_size", F.explode("gt").alias("gram"))
    e_freq = e_inv.groupBy("gram").agg(F.count(F.lit(1)).alias("edf"))
    ranked = t_inv.join(e_freq, "gram", "left").withColumn(
        "edf", F.coalesce("edf", F.lit(0))
    )
    w = W.partitionBy("t_id").orderBy("edf", "gram")
    prefix_len = (
        F.col("t_size") - F.ceil(F.col("t_size") * F.lit(threshold)) + 1
    )
    prefix = (
        ranked.withColumn("__pos", F.row_number().over(w))
        .filter(F.col("__pos") <= prefix_len)
        # eval-absent grams can't produce candidates; dropping them here
        # skips the join probe entirely for most clean training docs
        .filter(F.col("edf") > 0)
        .select("t_id", "gram")
    )
    cands = prefix.join(e_inv, "gram").select("t_id", "e_id").distinct()
    verified = (
        cands.join(gt, "t_id")
        .join(ge, "e_id")
        .withColumn(
            "containment",
            (
                F.size(F.array_intersect("gt", "ge")).cast("double")
                / F.col("t_size")
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("t_id", "e_id", "containment")
    )
    return _eager_release(verified, gt, ge)


def keep_best_per_component(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Near-dup curation with a QUALITY policy: given (a, b) near-dup
    pairs from any generator (exact Jaccard, MinHash-LSH, embedding
    cosine), cluster them into components and keep exactly ONE row per
    component — the HIGHEST-``score_col`` member, ties to the lowest id
    (deterministic). Singletons (docs in no pair) always survive.

    This is the "keep the best copy" upgrade over min-id representative
    selection: feeding a quality signal (text_quality composite,
    compression_ratio, token rarity, a model score) retains the
    longest/cleanest duplicate instead of an arbitrary one. Cost beyond
    the pair generator: the components contraction (O(log n) rounds) +
    one keyed window — no collects, no cross products."""
    from .components import connected_components

    labels = connected_components(pairs, src=a_col, dst=b_col)
    labeled = (
        df.join(labels, F.col(id_col) == F.col("node"), "left")
        .drop("node")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    w = W.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def stream_near_dup_flags(
    stream_docs: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    shingle_size: int = 3,
    num_bands: int = 16,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """The STREAMING form of :func:`incremental_near_dup_flags`: a
    continuous stream of incoming documents is flagged against a static
    corpus signature snapshot. Returns a STREAMING DataFrame of
    (id, corpus_id, est_jaccard) rows — one per (new doc, corpus
    near-dup) hit.

    The whole pipeline is STATELESS in streaming terms: signature
    hashing and band explosion are pure expressions, and the candidate
    join is a stream-STATIC inner join (no watermark, no state store —
    the corpus index is just a joined table, broadcast or shuffled by
    AQE). Append mode, bounded memory, restart-safe by construction —
    the per-doc aggregation (max estimate, dup count) belongs
    downstream in the caller's batch/foreachBatch layer, exactly like a
    production dedup gate in an ingestion topology. Duplicate
    (id, corpus_id) hits across bands ARE emitted (dedup would need
    state); downstream grouping absorbs them.

    ``corpus_sigs`` is the persisted :func:`minhash_signatures` snapshot
    — trained once per corpus version, shared by every stream. It must
    have been built with the SAME ``base_hash`` family passed here, or
    no band can ever match."""
    rows_per_band = num_hashes // num_bands
    sigs = minhash_signatures(
        _with_content(stream_docs, text_col, min_words=shingle_size),
        text_col,
        id_col,
        num_hashes,
        shingle_size,
        base_hash,
    )
    # the stream side carries its signature through the explode:
    # re-joining it would be a stream-stream join
    stream_bb = _band_buckets(
        sigs, id_col, num_bands, rows_per_band, carry=("signature AS sig_b",)
    )
    idx = _band_buckets(corpus_sigs, id_col, num_bands, rows_per_band).join(
        corpus_sigs.selectExpr(f"{sql_ident(id_col)} AS id", "signature AS sig_c"),
        "id",
    ).selectExpr("id AS corpus_id", "sig_c", "band", "bucket")
    return (
        stream_bb.join(idx, ["band", "bucket"])
        .selectExpr(
            "id", "corpus_id", f"{_overlap_sql('sig_b', 'sig_c', num_hashes)} AS est_jaccard"
        )
        .where(f"est_jaccard >= {sql_literal(float(threshold))}")
    )


# --------------------------------------------------------------------------
# Exact substring dedup (the suffix-array family, ExactSubstr semantics)
# --------------------------------------------------------------------------


def _essd_base_and_windows(df, text_col, id_col, L):
    """Tokenize and explode every length-L token window with its start
    position: returns (base, grams) where base = (__id, __toks,
    n_tokens) and grams = (__id, pos, gram). Docs shorter than L emit no
    windows (they reappear via the final left join).

    The window array is built row-side before posexplode, so per-row
    memory is O(doc_tokens * L): bounded-length documents (every real
    pretraining corpus caps doc size) are the operating assumption —
    pre-chunk pathological giants (see q_doc_chunking) before calling."""
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: t != F.lit("")
    )
    base = df.select(
        F.col(id_col).alias("__id"), toks.alias("__toks")
    ).withColumn("n_tokens", F.size("__toks").cast("bigint"))
    windows = F.when(
        F.col("n_tokens") >= L,
        F.transform(
            F.sequence(F.lit(0), (F.col("n_tokens") - L).cast("int")),
            lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, L)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select("__id", F.posexplode(windows).alias("pos", "gram"))
    return base, grams


def _essd_assemble(base, marked, L, id_col):
    """Merge marked window starts (__id, pos) into maximal spans per doc
    (gaps-and-islands over a doc-partitioned window — overlapping marks
    fuse; touching-but-disjoint marks stay separate spans) and rebuild
    the surviving text. Output: (id, n_tokens, n_spans, n_dup_tokens,
    clean_text)."""
    from pyspark.sql import Window as W

    w_prev = (
        W.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_cum = (
        W.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    flagged = marked.withColumn(
        "__is_new",
        (
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + L - 1).over(w_prev), F.lit(-1))
        ).cast("int"),
    )
    islanded = flagged.withColumn("__island", F.sum("__is_new").over(w_cum))
    spans = islanded.groupBy("__id", "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + L - 1).alias("span_end"),
    )
    per_doc = spans.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("n_dup_tokens"),
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__iv"),
    )
    iv = F.coalesce(
        F.col("__iv"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    # token j (0-based) survives iff no merged interval covers it
    clean = F.concat_ws(
        " ",
        F.filter(
            "__toks",
            lambda tok, j: ~F.exists(
                iv,
                lambda s: (j >= s["span_start"]) & (j <= s["span_end"]),
            ),
        ),
    )
    return base.join(per_doc, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_tokens",
        F.coalesce("n_spans", F.lit(0).cast("bigint")).alias("n_spans"),
        F.coalesce("n_dup_tokens", F.lit(0).cast("bigint")).alias(
            "n_dup_tokens"
        ),
        clean.alias("clean_text"),
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    min_count: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Corpus-wide EXACT duplicated-substring removal — the semantics of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better") ExactSubstr: every token position covered by some substring
    of length >= ``min_tokens`` tokens that occurs at least ``min_count``
    times in the corpus (any doc, including the same one) is removed,
    and the survivors are reassembled in order.

    The reference implementation builds one giant suffix array over the
    concatenated corpus — inherently single-machine (their repo shards
    it by hand). The distributed formulation here uses the
    duplicated-window cover identity instead: a position lies inside a
    duplicated substring of length >= L **iff** it is covered by some
    duplicated L-token window, so marking every window of length exactly
    L whose text occurs >= min_count times and merging the per-doc
    overlapping marks yields exactly the same removed set — no suffix
    array, no concatenated corpus, no driver-side pass.

    Scale shape (all JVM-side column expressions, zero UDFs):

    1. window explode: (doc, pos, gram) — linear in corpus tokens;
    2. ONE gram-keyed shuffle with map-side partial aggregation finds
       windows with count >= min_count (a hyper-duplicated boilerplate
       gram costs one group, and AQE's skew handling covers the join
       back, which is the same gram key);
    3. per-doc interval merge is a doc-partitioned window (gaps-and-
       islands; never a global sort), then one doc-keyed join restores
       the full rows.

    ``hash_grams=True`` replaces the gram text with ``xxhash64`` before
    the shuffle — at 100 TB the shuffle payload drops ~L×, at the cost
    of a ~2^-64-per-pair false-merge chance (fine for curation; keep
    False where bit-exactness is contractual, e.g. the oracle gate).

    Measured (sf0.1 docs, local[32], min-of-2, noop write, worst case
    where EVERY window is duplicated via k shifted corpus copies):
    1.87 s at 1x (5k docs) -> 2.62 s at 3x -> 4.95 s at 10x (50k docs)
    — sublinear observed growth (fixed stage overhead amortizing over a
    linear workload), no super-linear term even with 100% of positions
    marked; hash_grams shaves ~15% already at this tiny gram size.

    Output: (id, n_tokens, n_spans, n_dup_tokens, clean_text), one row
    per input doc; clean_text is the single-space rejoin of surviving
    tokens ('' when the whole doc is duplicated).
    """
    L = int(min_tokens)
    if L < 1:
        raise ValueError("min_tokens must be >= 1")
    base, grams = _essd_base_and_windows(df, text_col, id_col, L)
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("gram")
    )
    marked = grams.join(dup, "gram").select("__id", "pos")
    return _essd_assemble(base, marked, L, id_col)


def exact_substring_decontaminate(
    df: DataFrame,
    against: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    hash_grams: bool = False,
) -> DataFrame:
    """Cross-corpus ExactSubstr decontamination: remove from ``df``
    (training corpus) every token position covered by a substring of
    length >= ``min_tokens`` that occurs ANYWHERE in ``against`` (the
    eval/benchmark corpus) — the substring-level eval-leakage scrub
    (Lee et al. 2021 §4.2 run train-against-test exactly this way;
    coarser set-overlap variants are what GPT-3-style reports call
    decontamination). Same duplicated-window cover identity as
    :func:`exact_substring_dedup`, with the marked set defined by
    membership in the eval window set instead of a corpus-wide count.

    Scale shape: the eval side reduces to DISTINCT eval grams — usually
    orders of magnitude smaller than the training corpus, and the
    gram-keyed semi-join against it is the only train-side shuffle
    before the per-doc island merge. ``hash_grams`` as in
    :func:`exact_substring_dedup`.

    Output: (id, n_tokens, n_spans, n_contaminated_tokens,
    contamination, clean_text) over ``df``; ``contamination`` is the
    removed-token fraction (0.0 for docs with fewer than L tokens —
    windows can't exist there).
    """
    L = int(min_tokens)
    if L < 1:
        raise ValueError("min_tokens must be >= 1")
    base, grams = _essd_base_and_windows(df, text_col, id_col, L)
    _, eval_grams = _essd_base_and_windows(against, text_col, id_col, L)
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
        eval_grams = eval_grams.withColumn("gram", F.xxhash64("gram"))
    eval_set = eval_grams.select("gram").distinct()
    marked = grams.join(eval_set, "gram", "left_semi").select("__id", "pos")
    out = _essd_assemble(base, marked, L, id_col)
    return out.select(
        id_col,
        "n_tokens",
        "n_spans",
        F.col("n_dup_tokens").alias("n_contaminated_tokens"),
        F.when(F.col("n_tokens") > 0,
               F.col("n_dup_tokens").cast("double") / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("contamination"),
        "clean_text",
    )


def exact_substring_eval_index(
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    hash_grams: bool = False,
) -> DataFrame:
    """The reusable eval-side artifact for substring decontamination: the
    DISTINCT length-L token windows of the eval corpus, one ``gram``
    column (xxhash64'd when ``hash_grams``). Build once per eval-suite
    version — persist or snapshot to parquet (operators/artifacts.py
    pattern) — and share across every batch and streaming scrub; eval
    suites are tiny next to a training corpus, so this is broadcast-
    sized in practice."""
    L = int(min_tokens)
    if L < 1:
        raise ValueError("min_tokens must be >= 1")
    _, grams = _essd_base_and_windows(eval_df, text_col, id_col, L)
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    return grams.select("gram").distinct()


def stream_contamination_flags(
    stream_docs: DataFrame,
    eval_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    hash_grams: bool = False,
) -> DataFrame:
    """The STREAMING form of :func:`exact_substring_decontaminate`: a
    continuous stream of incoming training documents is scanned for
    length->=L windows that occur in a static eval-corpus index
    (:func:`exact_substring_eval_index` snapshot), emitting one
    (id, pos) row per contaminated window start.

    STATELESS throughout: tokenize/window explode are pure expressions
    and the membership probe is a stream-STATIC left-semi join — no
    watermark, no state store, append mode, restart-safe; the same
    ingestion-gate topology as :func:`stream_near_dup_flags`. The
    per-doc island merge (adjacent-window fusion, span stats, clean-text
    rebuild) is window-function work that streaming cannot express
    statelessly — it belongs in the caller's foreachBatch/batch layer,
    where each micro-batch carries whole documents so the merge is exact
    (see q_stream_decontaminate for the full topology)."""
    L = int(min_tokens)
    if L < 1:
        raise ValueError("min_tokens must be >= 1")
    _, grams = _essd_base_and_windows(stream_docs, text_col, id_col, L)
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    return grams.join(eval_index, "gram", "left_semi").select(
        F.col("__id").alias("id"), "pos"
    )


def plan_lsh_bands(
    threshold: float,
    num_perm: int = 64,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Choose (num_bands, rows_per_band) for a target Jaccard threshold —
    the datasketch-style S-curve planner, so callers state INTENT
    ("pairs above 0.8") instead of hand-tuning band geometry.

    For b bands of r rows the candidate probability at similarity s is
    ``P(s) = 1 - (1 - s^r)^b``. The planner scans every (b, r) with
    ``b*r <= num_perm`` and minimizes the weighted sum of the S-curve's
    false-positive area (integral of P below the threshold) and
    false-negative area (integral of 1-P above it), integrated
    numerically on a fixed 100-point grid — deterministic, driver-side,
    microseconds; no corpus access.

    At threshold 0.5 / num_perm 64 the planner lands at 14x4 —
    validating the 16x4 default used across this module (same r, the
    knee of the same S-curve); production callers pass their real
    threshold (0.8 → 5x11) and feed the result to
    minhash_near_dup_pairs / lsh_candidate_pairs.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if num_perm < 2:
        raise ValueError("num_perm must be >= 2")
    best = None
    for r in range(1, num_perm + 1):
        for b in range(1, num_perm // r + 1):
            fp = 0.0
            fn = 0.0
            # midpoint rule on [0, threshold] and [threshold, 1]
            steps = 100
            for i in range(steps):
                s = threshold * (i + 0.5) / steps
                fp += (1.0 - (1.0 - s**r) ** b) * (threshold / steps)
                s = threshold + (1.0 - threshold) * (i + 0.5) / steps
                fn += ((1.0 - s**r) ** b) * ((1.0 - threshold) / steps)
            err = fp_weight * fp + fn_weight * fn
            if best is None or err < best[0]:
                best = (err, b, r)
    return best[1], best[2]


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, assign
    every document the weight ``1 / |its duplicate cluster|`` — the
    cluster as a whole contributes one document's worth of training
    mass, but surface diversity inside the cluster is preserved (the
    down-weighting alternative every data-mixing pipeline considers
    before hard dedup; singletons keep weight 1.0).

    Same machinery as the hard-dedup path — pairs → connected
    components (large-star/small-star) → one component-keyed count —
    plus a join back, so the marginal cost over cluster labeling is one
    tiny keyed aggregate. The weight is an exact IEEE division of
    integers (1/n), engine-portable.

    Returns (id, component, n_dups, weight) for EVERY input document;
    Σweight over the corpus = the effective deduplicated corpus size.
    """
    from .components import connected_components

    labels = connected_components(pairs, src=a_col, dst=b_col)
    labeled = (
        docs.select(F.col(id_col))
        .join(labels, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups")
    )
    return labeled.join(sizes, "component").select(
        id_col,
        "component",
        "n_dups",
        (F.lit(1.0) / F.col("n_dups").cast("double")).alias("weight"),
    )
