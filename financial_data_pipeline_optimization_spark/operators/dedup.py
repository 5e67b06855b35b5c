"""Deduplication operators (SURVEY.md §2.7 D1, §7.5 extensions).

Reference surface: keyed keep-latest dedup
(``drop_duplicates(subset=['Date','Ticker'], keep='last')``,
``extraction.py:105``). ``keep='last'`` means "newest batch wins", which
Spark's ``dropDuplicates`` cannot express (it keeps an *arbitrary* row)
— the engine makes the ordering explicit with a ``row_number`` window
(SURVEY.md §7.4).

Extension surface (BASELINE.json north star — LLM training-data
pipeline dedup at 100 TB):

- exact dedup by content hash (one shuffle on a 128-bit key);
- MinHash + LSH near-dup (shingle → minhash signature → banded
  bucket-join), all built-in higher-order functions — zero Python UDFs,
  the signature computation is row-local (no shuffle), only the
  band-bucket join shuffles, and it shuffles 16-byte keys rather than
  documents;
- SimHash near-dup (row-local 64-bit signature via
  ``aggregate``/``zip_with``, banded candidate join, ``bit_count``
  Hamming verify);
- n-gram Jaccard verification used by both candidate generators.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from financial_data_pipeline_optimization_spark.functions import explode_nonempty
from financial_data_pipeline_optimization_spark.operators import graph, joins

# ---------------------------------------------------------------------------
# Keyed dedup (reference core)
# ---------------------------------------------------------------------------


def keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    descending: bool = True,
) -> DataFrame:
    """D1: one row per ``keys``, the row that sorts first by ``order_by``
    (descending by default = newest wins, the semantics of
    ``extraction.py:105``'s ``keep='last'`` after appending the new
    batch below the old).

    One shuffle on ``keys``; at scale the window runs partition-local
    after the exchange, and AQE handles skewed keys.
    """
    ordering = [
        F.col(c).desc() if descending else F.col(c).asc() for c in order_by
    ]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Exact content dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    content_cols: Sequence[str],
    id_col: str,
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup: keep the lowest-``id_col`` row per content hash.

    Hashes the (optionally whitespace/case-normalized) content columns to
    a 128-bit md5 and keeps one representative per hash — the min-id
    window avoids ``dropDuplicates``'s arbitrary-row semantics and keeps
    the output deterministic. Shuffles only on the 16-byte digest.
    """
    from financial_data_pipeline_optimization_spark.functions import null_safe_key

    cols = []
    for c in content_cols:
        col = F.col(c).cast("string")
        if normalize:
            col = F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))
        cols.append(col)
    # null_safe_key (not concat_ws) so a NULL column and an empty one
    # hash differently — concat_ws skips nulls, which would merge
    # distinct contents into one dedup group.
    hashed = df.withColumn("__h", F.md5(null_safe_key(*cols)))
    return keep_latest(hashed, ["__h"], [id_col], descending=False).drop("__h")


# ---------------------------------------------------------------------------
# Shingling / tokenization shared helpers (row-local, no shuffle)
# ---------------------------------------------------------------------------


def _tokens(col):
    """Lowercased word tokens of a text column — delegates to the ONE
    shared tokenizer (``operators.text.tokens``) so dedup, analysis,
    and every SQL oracle agree on token semantics. This used to be an
    independent ``[^\\w\\s]`` copy, which kept underscores (Java ``\\w``
    includes ``_``) while the shared tokenizer and oracles strip them —
    a divergence the shingle differential fuzzer shrank to the
    one-character document ``"_"`` (``tests/test_fuzz_differential.py``).
    """
    from financial_data_pipeline_optimization_spark.operators.text import tokens

    return tokens(col)


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition to full parallelism before CPU-heavy per-row
    work. A small parquet file arrives as ONE partition, serializing
    the signature computation onto a single core; at cluster scale the
    same call balances skewed file layouts. Keyed by ``key`` so the
    exchange is deterministic."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, key)


def with_shingles(
    df: DataFrame,
    text_col: str,
    n: int = 3,
    out_col: str = "shingles",
    distinct: bool = True,
) -> DataFrame:
    """Word ``n``-gram shingles of ``text_col`` — the unit set for
    MinHash / Jaccard (``distinct=True``, the default) or the raw
    multiset for frequency statistics (``distinct=False``). Row-local
    higher-order functions only.

    The token array is materialized as its own projection BEFORE the
    per-position lambda references it. Inlining ``_tokens(...)``
    directly into the lambda re-evaluates the regexp+split chain once
    per shingle POSITION (~token-count× redundant regex work per row —
    measured 8× slower on the sf0.1 corpus); as a multiply-referenced
    alias it is computed once per row and CollapseProject leaves it
    alone."""
    tok_col = f"__{out_col}_toks"
    with_toks = df.withColumn(tok_col, _tokens(F.col(text_col)))
    toks = F.col(tok_col)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    if distinct:
        shingles = F.array_distinct(shingles)
    return with_toks.withColumn(out_col, shingles).drop(tok_col)


def jaccard(set_a, set_b):
    """Column expr: Jaccard similarity of two array columns."""
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(F.array_union(set_a, set_b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------


def derive_banding(
    num_hashes: int = 64, min_jaccard: float = 0.8
) -> tuple[int, int]:
    """Choose the LSH banding ``(bands, rows_per_band)`` for a given
    hash budget and verify threshold.

    The banding S-curve midpoint (the Jaccard at which a pair's
    band-collision probability crosses ~1-1/e) is
    ``(1/bands)^(1/rows_per_band)``. Candidates whose Jaccard sits in
    the [midpoint, min_jaccard) dead zone are generated, shuffled, and
    then discarded by the exact-Jaccard verify join — pure waste, and
    on realistic shared-vocabulary text (background Jaccard ~0.1 with
    small shingles) that waste dominates: the r13 Heaps-law zipf corpus
    measured the 16x4 banding (midpoint 0.50) at 159.4 s / 36.8x growth
    at 500k docs vs 17.3 s / 5.3x for 8x8 (midpoint 0.77) at the same
    0.8 threshold (SCALING.md, BENCH_ZIPF.json).

    Rule: among the divisor pairs ``bands * rows == num_hashes``, pick
    the one with the LARGEST midpoint at or below ``min_jaccard`` —
    i.e. align the midpoint with the verify threshold from below, so
    at-threshold pairs still collide with probability
    ``1-(1-1/b)^b`` ≈ 63% per corpus pass and recall climbs steeply
    above it (J=0.85 under 8x8 → ~0.93; exact duplicates always
    collide), while sub-threshold background mass decays as
    ``J^rows_per_band`` per band. A midpoint ABOVE the threshold would
    cut candidate volume further but collapses at-threshold recall
    (4x16 at t=0.8 detects J=0.8 pairs with probability ~0.1) — the
    recall contracts (``minhash_recall_check``'s 0.9 floor) forbid it.

    Degenerate thresholds fall back sanely: ``min_jaccard >= 1.0``
    picks one band of all hashes (exact signature match);
    ``min_jaccard`` below every midpoint picks ``rows_per_band = 1``
    (every hash its own band — the most permissive banding the budget
    allows).
    """
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    divisors = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    eligible = [
        (b, r)
        for b, r in divisors
        if (1.0 / b) ** (1.0 / r) <= min_jaccard
    ]
    if not eligible:
        return num_hashes, 1
    return max(eligible, key=lambda br: (1.0 / br[0]) ** (1.0 / br[1]))


def with_minhash_signature(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_hashes: int = 64,
    out_col: str = "minhash",
    prehashed: bool = False,
) -> DataFrame:
    """MinHash signature (Broder, "On the resemblance and containment
    of documents", SEQUENCES 1997): for permutation ``i``,
    ``min(xxhash64(i, shingle))`` over the shingle set. Entirely row-local (``transform`` +
    ``array_min``), so the 100 TB cost is one scan — no shuffle, no UDF.

    Cost shape: each shingle string is xxhash64'd ONCE; the
    ``num_hashes`` permutations are XORs with fixed random constants
    (XOR with a constant is a bijection on 64-bit space — a valid
    permutation family), folded with one ``aggregate`` pass keeping a
    ``num_hashes``-wide running minimum. The obvious alternatives are
    slow: per-permutation string re-hashing multiplies the dominant
    cost 64×, ``num_hashes`` sibling ``array_min(transform(...))``
    expressions re-traverse the array per permutation, and nesting a
    lambda inside another lambda's variable forces interpreted
    evaluation.

    The wide expression is generated as ONE SQL string (a single
    ``expr`` / py4j round-trip): building the same tree Column-by-Column
    costs hundreds of driver→JVM calls ≈ seconds of plan-build latency
    before any task runs.

    An Arrow-batched numpy alternative (``mapInPandas`` + C-speed
    string hashing + vectorized XOR-min, analogous to
    ``vector.brute_force_topk``'s matmul path) was measured ~4× SLOWER
    at equal parallelism: serializing the corpus-sized shingle arrays
    out of the JVM costs more than the interpreted lambda evaluation,
    which is per-shingle-hash-bound, not per-permutation-bound. The
    HOF form stays.

    ``prehashed=True``: ``shingle_col`` already holds the
    ``xxhash64``'d shingles (``array<bigint>``), so the inner
    per-shingle hash is skipped and the fold runs straight over the
    longs. Signatures are bit-identical to the string path (the
    running minimum is insensitive to the ``array_distinct`` the
    hashed-set producer applies) — this is how ``minhash_lsh_pairs``
    shares ONE shingle-hash pass between the signature and the verify
    join."""
    import random

    rng = random.Random(0x5EED ^ num_hashes)
    consts = [rng.getrandbits(63) for _ in range(num_hashes)]
    max_long = (1 << 63) - 1
    xors = ", ".join(f"(h ^ {c}L)" for c in consts)
    src = (
        f"`{shingle_col}`"
        if prehashed
        else f"transform(`{shingle_col}`, s -> xxhash64(s))"
    )
    sig = F.expr(
        f"aggregate({src}, "
        f"array_repeat({max_long}L, {num_hashes}), "
        f"(acc, h) -> zip_with(acc, array({xors}), (a, x) -> least(a, x)))"
    )
    return df.withColumn(out_col, sig)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    min_jaccard: float = 0.8,
    materialize_signatures: bool = True,
    stats: dict | None = None,
    _sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification
    (banding scheme per Gionis/Indyk/Motwani, "Similarity search in
    high dimensions via hashing", VLDB 1999).

    ``bands=None`` (the default) DERIVES the banding from
    ``min_jaccard`` and ``num_hashes`` via :func:`derive_banding` —
    the S-curve midpoint ``(1/bands)^(1/rows_per_band)`` is aligned
    at-or-below the verify threshold, so the banded join does not pay
    for candidates the verify join will discard. This replaced a fixed
    16-band default in r14 after the r13 zipf-corpus measurement: at
    t=0.8 the fixed 16x4 midpoint (0.50) surfaced the whole [0.5, 0.8)
    dead zone as candidates — invisible on disjoint-vocabulary
    synthetic corpora, 9x wall time at 500k realistic docs (36.8x vs
    5.3x growth; SCALING.md zipf section). The derived 8x8 banding
    trades steeper at-threshold recall (J=0.85 → ~0.93 detection;
    exact duplicates always collide in every band) — the standard
    production-LSH trade. Pass ``bands=`` explicitly to override
    (e.g. ``bands=16`` reproduces the documented blowup for
    comparison benches).

    Plan shape (the scale story): signature computation is a narrow map;
    band hashes explode to ``bands`` rows per doc (16-byte keys); the
    self-join shuffles only ``(band, band_hash, id)`` triples; candidate
    pairs are deduped across bands *before* the verify join rehydrates
    shingle sets. Returns ``(a, b, jaccard_sim)`` with ``a < b``.

    ``materialize_signatures``: the banded self-join references the
    signature subtree on BOTH sides, and (broadcast vs shuffle)
    exchanges are never reused across join sides — so the signatures
    would be computed twice. A lazy ``localCheckpoint`` of just
    ``(id, minhash)`` (``num_hashes``×8 bytes per doc — the standard
    "materialize the signature table" step of a production LSH
    pipeline) computes them once. The HASHED shingle sets
    (``array_distinct`` of the per-shingle ``xxhash64`` longs — 8
    bytes/shingle) are materialized too, and BOTH the signature fold
    and the verify join read them: tokenize → shingle-concat →
    string-hash, the allocation-heavy part of the whole pipeline, runs
    exactly once per document instead of twice (it used to re-run for
    the verify join, which an r11 ×100 probe measured as the dominant
    super-linear cost — compute+GC, not parallelism). Storing hashes
    rather than shingle strings is strictly smaller than the text
    column itself; a production run would persist the same table to
    disk. Disable to keep the plan fully lazy (e.g. under a streaming
    source).
    """
    if bands is None:
        bands, _ = derive_banding(num_hashes, min_jaccard)
    if _sets is not None:
        # Prebuilt (already checkpointed) shared sets from the auto
        # gate: the sorted order is irrelevant here (the signature
        # min-fold and the verify intersect are order-insensitive),
        # so the frames are interchangeable.
        hashed = _sets.select(
            F.col("__id").alias("__sid"), F.col("__sh").alias("__hsh")
        )
    else:
        hashed = with_shingles(
            _spread(df.select(id_col, text_col), id_col),
            text_col,
            n=shingle_n,
        ).select(
            F.col(id_col).alias("__sid"),
            F.array_distinct(
                F.transform("shingles", lambda s: F.xxhash64(s))
            ).alias("__hsh"),
        )
        if materialize_signatures:
            hashed = hashed.localCheckpoint(eager=False)
    sig = with_minhash_signature(
        hashed, shingle_col="__hsh", num_hashes=num_hashes, prehashed=True
    ).select(F.col("__sid").alias("__id"), "minhash")
    if materialize_signatures:
        sig = sig.localCheckpoint(eager=False)
    banded = sig.select(
        "__id",
        F.posexplode(
            _band_hashes(F.col("minhash"), num_hashes, bands)
        ).alias("band", "band_hash"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("a"), F.col("r.__id").alias("b"))
        .distinct()
    )
    if stats is not None:
        # Banded candidates after cross-band dedup (one extra action;
        # production callers pass None). Feeds the exact-vs-LSH
        # crossover table in SCALING.md.
        stats["candidate_pairs"] = candidates.count()
    # Verify on the SAME materialized hashed shingle sets the
    # signature fold consumed: intersect 8-byte longs instead of
    # multi-word strings — the two rehydration joins shuffle ~3× fewer
    # bytes and compare integers, and the corpus is never re-shingled.
    # Jaccard over hashed sets equals Jaccard over string sets modulo
    # 64-bit collisions (~1e-10 per pair) — the same trade
    # ngram_jaccard_pairs documents.
    sets = hashed
    verified = (
        candidates.join(sets.alias("sa"), F.col("a") == F.col("sa.__sid"))
        .join(sets.alias("sb"), F.col("b") == F.col("sb.__sid"))
        .select(
            "a",
            "b",
            jaccard(F.col("sa.__hsh"), F.col("sb.__hsh")).alias(
                "jaccard_sim"
            ),
        )
        .filter(F.col("jaccard_sim") >= min_jaccard)
    )
    return verified


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard: float = 0.8,
    **kwargs,
) -> DataFrame:
    """Near-dedup: drop every doc that is a near-duplicate of a
    lower-id doc (greedy keep-first by id — at scale this is the
    standard one-pass LSH dedup; full transitive clustering would need
    connected components, out of scope for a dedup sweep)."""
    dupes = (
        minhash_lsh_pairs(
            df, id_col, text_col, min_jaccard=min_jaccard, **kwargs
        )
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return df.join(dupes, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash near-duplicate detection
# ---------------------------------------------------------------------------


def with_simhash(
    df: DataFrame, text_col: str, out_col: str = "simhash", shingle_n: int = 2
) -> DataFrame:
    """64-bit SimHash (Charikar, "Similarity estimation techniques
    from rounding algorithms", STOC 2002), computed row-locally with
    ``aggregate`` / ``zip_with`` over the shingle array (no shuffle, no UDF): each
    ``shingle_n``-gram votes ±1 per bit position from its xxhash64; the
    signature takes the sign of each bit's vote sum. Shingles rather
    than unigram tokens: on small-vocabulary corpora unigram token sets
    are near-identical across documents, which collapses every SimHash
    into the same bucket and explodes the candidate join."""
    shingled = with_shingles(
        df.select("*"), text_col, n=shingle_n, out_col="__sh"
    )
    # Each shingle is hashed once (transform), then its 64 vote bits are
    # bit-shifts of that long. The whole signature is ONE 4-arg
    # aggregate: votes accumulate in the merge lambda and the sign bits
    # pack in the finish lambda. Packing must NOT live in a separate
    # expression that references the votes 64 times — higher-order
    # functions are interpreted (no codegen, no common-subexpression
    # elimination), so Catalyst inlines the vote aggregate per
    # reference and the row cost multiplies 64×. The wide expression is
    # generated as one SQL string — a single py4j round-trip (see
    # with_minhash_signature).
    bits = ", ".join(
        f"IF((shiftright(h, {b}) & 1) = 1, 1L, -1L)" for b in range(64)
    )
    sig = F.expr(
        "aggregate(transform(__sh, s -> xxhash64(s)), "
        "array_repeat(0L, 64), "
        f"(acc, h) -> zip_with(acc, array({bits}), (a, v) -> a + v), "
        "votes -> aggregate(sequence(0, 63), 0L, (acc, b) -> "
        "acc | IF(element_at(votes, b + 1) > 0, shiftleft(1L, b), 0L)))"
    )
    return shingled.withColumn(out_col, sig).drop("__sh")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    materialize_signatures: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into ``bands``
    16-bit chunks (pigeonhole: any pair within Hamming distance
    ``bands-1`` shares an exact chunk), bucket-join on chunks, verify
    with ``bit_count(a XOR b) <= max_hamming``. Returns
    ``(a, b, hamming)`` with ``a < b``.

    ``materialize_signatures`` (default True) lazily checkpoints the
    signature table before the self-join — without it BOTH join sides
    re-run the 64-bit vote aggregate over every document, doubling the
    dominant cost (the same share-across-join-sides discipline as
    ``minhash_lsh_pairs``). Disable to keep the plan fully lazy."""
    width = 64 // bands
    base = with_simhash(_spread(df.select(id_col, text_col), id_col), text_col)
    if materialize_signatures:
        base = base.localCheckpoint(eager=False)
    banded = base.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "chunk"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("a"),
            F.col("r.__id").alias("b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, SQL-expressible — the oracle-checkable dedup)
# ---------------------------------------------------------------------------


def _hashed_sorted_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """The shared similarity-set asset: ``(__id, __sh, set_size)``
    where ``__sh`` is the document's distinct ``n``-gram shingles
    hashed to sorted 64-bit ints. Shingles are hashed so candidate
    joins shuffle 8-byte keys instead of multi-word strings, and the
    sorted-hash universe gives the consistent global order prefix
    filtering needs. A 64-bit collision (odds ~1e-8 at millions of
    distinct shingles) could merge two shingles; ``array_distinct``
    keeps per-set semantics exact under that. One row-local pass —
    callers checkpoint when several consumers (index, verify, the
    auto-gate probe) read it."""
    return (
        with_shingles(
            _spread(df.select(id_col, text_col), id_col), text_col, n=n
        )
        .select(
            F.col(id_col).alias("__id"),
            F.array_sort(
                F.array_distinct(
                    F.transform("shingles", lambda s: F.xxhash64(s))
                )
            ).alias("__sh"),
        )
        .withColumn("set_size", F.size("__sh"))
    )


def _prefix_length(min_jaccard: float):
    """Prefix-filter length column: a pair with Jaccard >= t must
    share an element among each side's ``|s| - ceil(t*|s|) + 1``
    smallest elements (Bayardo/Ma/Srikant, WWW 2007)."""
    return (
        F.col("set_size")
        - F.ceil(F.lit(float(min_jaccard)) * F.col("set_size"))
        + 1
    ).cast("int")


def exact_index_fanout(sets: DataFrame, min_jaccard: float) -> int:
    """Upper bound on the exact prefix-index candidate volume:
    ``sum_h C(df_h, 2)`` over the prefix posting lists — every
    candidate pair the inverted-index self-join can emit before the
    size-ratio/positional filters prune. This is the structural
    metric that predicts whether :func:`ngram_jaccard_pairs` is
    viable: its join cost is candidate-bound, and a single hot
    posting list of ``c`` near-identical documents contributes
    ``C(c, 2)`` pairs PER SHARED PREFIX SHINGLE (the per-hot-bucket
    quadratic fan-out that drove the r14 skewed-corpus DNF).

    Cost: one explode of the prefixes plus one hash-keyed count
    aggregation (map-side partial combine) folded to a single row —
    strictly linear in the prefix-index size, no joins; measured
    0.9 s at 5k docs and 9.6 s at 500k heavy-tailed docs, corpora
    where the exact join itself runs 2.4 s and >25 min respectively.
    Measured values on the calibration corpora (r15): ~6.6e6 at 5k
    docs (sf0.1), ~5.8e8 at 50k zipf docs, ~5.8e10 at 500k skewed
    docs."""
    pref = sets.select(
        explode_nonempty(
            F.slice("__sh", F.lit(1), _prefix_length(min_jaccard))
        ).alias("sh")
    )
    row = (
        pref.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("long")
            .alias("fanout")
        )
        .collect()[0]
    )
    return int(row["fanout"] or 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.5,
    stats: dict | None = None,
    _sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs above ``min_jaccard``: prefix-filtered
    inverted index (explode only each set's smallest-hash prefix,
    self-join on 8-byte shingle hashes — no false negatives by the
    prefix-filter theorem) followed by an exact sorted-array intersect
    verify on the candidates. Same results as the naive full inverted
    index, at ~t× the index size and a small fraction of the candidate
    pairs. ANSI-SQL-expressible, so it doubles as the DuckDB oracle for
    the approximate paths. Returns ``(a, b, jaccard_sim)``, ``a < b``.

    ``stats``: optional dict; on return ``stats["candidate_pairs"]``
    holds the count of index candidates fed to the verify stage
    (includes the bounded multi-prefix-collision dup factor — see the
    no-distinct note below). Costs one extra action; production
    callers pass ``None`` and pay nothing. Feeds the exact-vs-LSH
    crossover table in SCALING.md.

    ``_sets``: a prebuilt (already checkpointed)
    :func:`_hashed_sorted_sets` frame, so :func:`near_dup_clusters`'
    auto gate shares ONE shingle-hash pass between its fan-out probe
    and this join instead of re-scanning the corpus."""
    sets = (
        _sets
        if _sets is not None
        else _hashed_sorted_sets(df, id_col, text_col, n)
        # reused by candidates AND verify
        .localCheckpoint(eager=False)
    )
    # Prefix filtering (Bayardo/Ma/Srikant, WWW 2007 "Scaling up all
    # pairs similarity search"): two sets with Jaccard >= t must share
    # an element among each side's (|s| - ceil(t*|s|) + 1) smallest
    # elements under a global total order on the shingle universe
    # (here: hash order). Exploding only that prefix cuts the inverted
    # index to ~(1-t) of its size with ZERO false negatives — the
    # exact verify below keeps the operator oracle-exact. (The
    # rarest-first df ordering from the paper was re-measured this
    # round — r5, after the positional filter landed — and confirmed
    # not worth it HERE: candidates dropped only 1.58M→1.50M at sf0.1
    # while the df-count + per-set reorder added three shuffles. This
    # synthetic corpus draws bigrams near-uniformly, so "rare" prefix
    # shingles still have df in the hundreds; on Zipfian real text the
    # ordering is the standard win and slots in where this comment
    # sits.)
    pref = sets.select(
        "__id",
        "set_size",
        F.posexplode(
            F.slice("__sh", F.lit(1), _prefix_length(min_jaccard))
        ).alias("pos", "sh"),
    )
    # Size-ratio filter: Jaccard >= t forces t*|B| <= |A| <= |B|/t,
    # pruning candidates whose sizes alone rule them out. Positional
    # filter (PPJoin, Xiao/Wang/Lin/Yu WWW 2008): a pair matching at
    # 0-based prefix positions (i, j) can overlap in at most
    # min(|A|-i, |B|-j) elements, so pairs whose remaining-suffix bound
    # can't reach the required overlap ceil(t/(1+t)·(|A|+|B|)) are
    # dropped INSIDE the join condition — measured 2.3× fewer
    # candidates at sf0.1, zero false negatives, zero extra shuffles.
    t = float(min_jaccard)
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("a.set_size") + F.col("b.set_size"))
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.col("a.set_size") >= t * F.col("b.set_size"))
            & (F.col("b.set_size") >= t * F.col("a.set_size"))
            & (
                F.least(
                    F.col("a.set_size") - F.col("a.pos"),
                    F.col("b.set_size") - F.col("b.pos"),
                )
                >= alpha
            ),
        )
        .select(F.col("a.__id").alias("a"), F.col("b.__id").alias("b"))
    )
    if stats is not None:
        stats["candidate_pairs"] = cand.count()
    # No ``.distinct()`` on candidates: deduplicating the candidate
    # stream costs a full exchange at its (largest-in-the-plan)
    # cardinality, while a pair that collides on several prefix
    # elements is merely re-verified — the dup factor is bounded by
    # the prefix length and measured ~1.26× on this corpus. The dedup
    # moves AFTER the verify filter, where survivors are orders of
    # magnitude fewer (measured ~0.8 s faster at sf0.1, identical
    # results). Catalyst broadcasts the verify joins while ``sets``
    # is small and degrades to shuffled joins at scale — no forced
    # hint, the sets table is corpus-sized.
    verify = (
        cand.join(
            sets.select(
                F.col("__id").alias("a"),
                F.col("__sh").alias("__sh_a"),
                F.col("set_size").alias("size_a"),
            ),
            "a",
        )
        .join(
            sets.select(
                F.col("__id").alias("b"),
                F.col("__sh").alias("__sh_b"),
                F.col("set_size").alias("size_b"),
            ),
            "b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("__sh_a", "__sh_b"))
        )
    )
    return (
        verify.select(
            "a",
            "b",
            (
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= min_jaccard)
        # Survivor-level dedup of the multi-collision candidates (all
        # duplicates carry the same exact jaccard, so first() is
        # deterministic); cardinality here is the true pair count.
        .groupBy("a", "b")
        .agg(F.first("jaccard_sim").alias("jaccard_sim"))
    )


#: Default budget for `near_dup_clusters`' auto gate: the largest
#: exact-index candidate fan-out (`exact_index_fanout`) the default
#: path will accept before switching to LSH. Calibrated r15: the
#: sf0.1 / 5k-doc corpora probe at ~6e6 (exact join ~2.4 s on
#: local[32] — 8× headroom under this budget), the 50k-doc zipf
#: corpora at ~5.8e8 (exact join runs minutes-to-DNF territory), the
#: r14 DNF cell (500k skewed docs) at ~5.8e10. 5e7 candidates ≈ a
#: few GB of candidate shuffle ≈ tens of seconds of verify work —
#: the largest cost that is still sane to accept silently.
EXACT_FANOUT_BUDGET = 50_000_000


class ExactFanoutBudgetExceeded(RuntimeError):
    """`near_dup_clusters(pair_source="auto", on_budget_exceeded=
    "error")` measured an exact-index candidate fan-out past the
    budget and the caller FORBADE the silent downgrade to LSH-recall
    pairs. Raised by consumers whose semantics depend on the exact
    transitive closure (leakage-safe splitting, curation funnels):
    LSH clusters are FINER (verified-subset edges), so under a quiet
    flip two true near-duplicates can land in different train/test
    splits — a weakening of the leakage guarantee that must be an
    explicit decision, not a log line. Remediation: pass
    ``pair_source="lsh"`` to accept near-threshold recall knowingly,
    raise ``exact_fanout_budget`` if the verify cost is acceptable,
    or pre-shard the corpus so each shard probes under budget."""


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.8,
    max_iter: int = 25,
    pair_source: str = "auto",
    exact_fanout_budget: int = EXACT_FANOUT_BUDGET,
    on_budget_exceeded: str = "lsh",
    carry_cols: Sequence[str] = (),
    cc_stats: dict | None = None,
    stats: dict | None = None,
    materialize: bool = True,
    **lsh_kwargs,
) -> DataFrame:
    """Transitive near-duplicate clusters: similarity pairs →
    connected components (large-star/small-star, ``operators.graph``)
    → every document labeled with its cluster's minimum id (singletons
    label themselves). This is the full-corpus dedup contract: keep
    ``cluster_id == id`` rows, drop the rest, and chains A~B~C
    collapse to one survivor even when A~C was never emitted as a pair.
    Consumers that only drop duplicates should anti-join
    :func:`near_dup_members` instead: same gate and loop, no
    per-document label table.

    ``pair_source`` selects the edge generator:

    - ``"auto"`` (default) — SIZE/STRUCTURE-GATED choice between the
      two sources below, the same discipline as ``kcore_peel``'s
      broadcast gate: one linear probe (:func:`exact_index_fanout` —
      an explode + count aggregation over the shared shingle-set
      table, no joins) measures the exact inverted index's candidate
      fan-out, and the exact source runs only while that stays within
      ``exact_fanout_budget``. The probe exists because the exact
      path's failure mode is SILENT and catastrophic: per-hot-bucket
      C(c,2) fan-out took the r14 skewed 500k-doc corpus past a
      25-minute DNF while the LSH twin ran 32 s — and nothing about
      corpus SIZE alone predicts it (fan-out is topology-driven).
      The probe's shingle-hash pass is shared with whichever source
      wins (one checkpointed sets table), so auto costs one extra
      linear aggregation, not a second corpus scan.
    - ``"exact"`` — prefix-filtered exact n-gram Jaccard
      (``ngram_jaccard_pairs``), unconditionally. Exact, but the
      inverted index grows with corpus size; the right choice for
      oracle-verified runs and corpora the caller KNOWS are small.
    - ``"lsh"`` — MinHash+LSH with exact-Jaccard verification
      (``minhash_lsh_pairs``; extra knobs via ``**lsh_kwargs``),
      unconditionally. Verified LSH pairs are a subset of the exact
      pairs (the verify stage re-checks Jaccard), so LSH clusters
      REFINE exact clusters; at 100 TB this is the only edge source
      that works — banded bucket join instead of a full inverted
      index — and explicit ``"lsh"`` also skips the probe's cost.

    Decision rule the budget encodes (measured, SCALING.md "Exact vs
    LSH crossover" + the r15 gate calibration): exact while the
    prefix-index fan-out stays ≲5e7 candidates (~tens of seconds of
    verify work; driver-SF corpora probe at ~1e5–7e6) or when the
    PAIR SET itself must be oracle-exact; LSH beyond that (the 50k-doc
    realistic corpora already probe at ~6e8, the r14 DNF cell at
    ~6e10).

    ``on_budget_exceeded`` controls what the AUTO gate does when the
    probe exceeds the budget: ``"lsh"`` (default) flips to the LSH
    edge source with a driver-side warning; ``"error"`` raises
    :class:`ExactFanoutBudgetExceeded` instead. The error mode exists
    for EXACT-CLOSURE-SENSITIVE consumers (leakage-safe splitting,
    curation funnels): verified-LSH clusters are FINER than exact
    clusters, so a silent flip can place two true near-duplicates in
    different train/test splits — those callers must choose the
    downgrade explicitly (``pair_source="lsh"``), never inherit it
    from a log line. Irrelevant for explicit ``pair_source`` values.

    ``stats``: optional dict; on return ``stats["pair_source"]``
    records the edge source actually used, and — when the gate ran —
    ``stats["exact_index_fanout"]`` its measured fan-out, so a
    production run can see WHICH plan it took without re-deriving
    the gate arithmetic (the ``kcore_peel`` ``stats`` convention).
    ``stats["stars_rows"]`` / ``stats["stars_join"]`` record the size
    of the converged star forest and whether the label join
    broadcasts it (see :func:`_near_dup_stars`). ``cc_stats`` is
    passed to ``graph.component_stars``.

    ``carry_cols`` ride along on the one label join (consumers like
    representative election would otherwise join the corpus a second
    time just to recover a metadata column).

    ``materialize=True`` checkpoints the label table once: consumers
    that run MULTIPLE actions over these rows (leakage-safe splits,
    budget plans, a range-sorted write's sampling pass) would
    otherwise re-execute the label join per action — the labels are
    (id, cluster_id [, carry]) rows, orders of magnitude smaller than
    the corpus. Single-action consumers (run the labels straight into
    one aggregate/collect and discard them) should pass
    ``materialize=False``: for them the checkpoint is pure added cost
    (measured +16-21% on the sf0.1 cluster headliners). This is the
    label-table twin of ``minhash_store``: callers that need REUSE
    ACROSS JOBS should write this frame to parquet and read it back
    (labels are deterministic given the corpus).

    Not fully lazy: the component loop is iterative (one bounded action
    per round, lineage truncated per round — see ``operators.graph``),
    and the default auto gate adds one bounded probe action.
    """
    stars = _near_dup_stars(
        df, id_col, text_col, n, min_jaccard, max_iter, pair_source,
        exact_fanout_budget, on_budget_exceeded, cc_stats, stats,
        lsh_kwargs,
    )
    # The document ids are a superset of the graph's node set (every
    # pair endpoint is a document), so the stars join the ids directly:
    # ids that are no star's member are their cluster's minimum.
    ids = df.select(F.col(id_col), *[F.col(c) for c in carry_cols])
    labels = ids.join(stars, ids[id_col] == stars["member"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("root"), F.col(id_col)).alias("cluster_id"),
        *[F.col(c) for c in carry_cols],
    )
    return labels.localCheckpoint(eager=False) if materialize else labels


def near_dup_members(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.8,
    max_iter: int = 25,
    pair_source: str = "auto",
    exact_fanout_budget: int = EXACT_FANOUT_BUDGET,
    on_budget_exceeded: str = "lsh",
    cc_stats: dict | None = None,
    stats: dict | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """The documents near-dedup DROPS: ``(id_col,)`` for every document
    that is in a near-duplicate cluster but is not its minimum id.
    ``df.join(near_dup_members(df, ...), id_col, "left_anti")`` keeps
    exactly the rows :func:`near_dup_clusters` labels ``cluster_id ==
    id``, without a per-document label table: the members are the
    converged star forest's member column, one row per dropped
    document, already computed by the component loop's convergence
    probe.

    Same parameters, pair-source gate, ``exact_fanout_budget`` /
    ``on_budget_exceeded`` contract and ``stats`` keys as
    :func:`near_dup_clusters`; the returned frame carries a broadcast
    hint while its (exactly known) row count fits
    ``joins.COUNT_BROADCAST_MAX_ROWS``."""
    stars = _near_dup_stars(
        df, id_col, text_col, n, min_jaccard, max_iter, pair_source,
        exact_fanout_budget, on_budget_exceeded, cc_stats, stats,
        lsh_kwargs,
    )
    return stars.select(F.col("member").alias(id_col))


def _near_dup_stars(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_jaccard: float,
    max_iter: int,
    pair_source: str,
    exact_fanout_budget: int,
    on_budget_exceeded: str,
    cc_stats: dict | None,
    stats: dict | None,
    lsh_kwargs: dict,
) -> DataFrame:
    """The pair-source gate, pair generation and component loop shared
    by :func:`near_dup_clusters` and :func:`near_dup_members`: returns
    the converged ``(member, root)`` star forest
    (``graph.component_stars``).

    The stars are a checkpointed relation AQE cannot size, and without
    a hint the join against the corpus-sized side is a sort-merge join
    that shuffles the corpus. Their row count is known exactly (the
    loop's ``fixpoint_edges``, one per member), so they carry a
    broadcast hint while that count fits
    ``joins.COUNT_BROADCAST_MAX_ROWS`` — usually a small fraction of
    the corpus, but a fully-duplicated corpus puts nearly every
    document in it, hence a gate, not an unconditional hint."""
    if pair_source not in ("auto", "exact", "lsh"):
        raise ValueError(
            "pair_source must be 'auto', 'exact' or 'lsh', got "
            f"{pair_source!r}"
        )
    if on_budget_exceeded not in ("lsh", "error"):
        raise ValueError(
            "on_budget_exceeded must be 'lsh' or 'error', got "
            f"{on_budget_exceeded!r}"
        )
    shared_sets = None
    chosen = pair_source
    if pair_source == "auto":
        # One sets table for the probe and the pair source. Like every
        # ``localCheckpoint(eager=False)`` here, under AQE the call runs
        # the upstream shuffle stages while the frame is being built
        # (2 jobs per curation-funnel pass), not at the first action.
        shared_sets = _hashed_sorted_sets(
            df, id_col, text_col, n
        ).localCheckpoint(eager=False)
        fanout = exact_index_fanout(shared_sets, min_jaccard)
        chosen = "exact" if fanout <= exact_fanout_budget else "lsh"
        if chosen == "lsh" and on_budget_exceeded == "error":
            if stats is not None:
                stats["exact_index_fanout"] = fanout
            raise ExactFanoutBudgetExceeded(
                "near_dup_clusters auto gate: exact index fan-out "
                f"{fanout} exceeds budget {exact_fanout_budget} and "
                "this caller forbids the silent LSH downgrade "
                "(on_budget_exceeded='error'). Pass "
                "pair_source='lsh' to accept near-threshold LSH "
                "recall explicitly, or raise exact_fanout_budget."
            )
        if chosen == "lsh":
            # The flip is a (deliberate, threshold-verified) semantic
            # downgrade from oracle-exact to LSH-recall pairs — it
            # must be observable even for callers that didn't pass
            # ``stats`` (a driver-side log line, once per call, not
            # per task).
            import logging

            logging.getLogger(__name__).warning(
                "near_dup_clusters auto gate: exact index fan-out "
                "%d exceeds budget %d — using the LSH edge source "
                "(verified pairs; near-threshold recall per the "
                "banding S-curve). Pass pair_source='exact' to "
                "force the exact index.",
                fanout,
                exact_fanout_budget,
            )
        if stats is not None:
            stats["exact_index_fanout"] = fanout
    if stats is not None:
        stats["pair_source"] = chosen

    if chosen == "exact":
        pairs = ngram_jaccard_pairs(
            df, id_col, text_col, n=n, min_jaccard=min_jaccard,
            _sets=shared_sets,
        )
    else:
        pairs = minhash_lsh_pairs(
            df,
            id_col,
            text_col,
            shingle_n=n,
            min_jaccard=min_jaccard,
            _sets=shared_sets,
            **lsh_kwargs,
        )
    # ``count_rounds: False`` suppresses the per-round edge counts the
    # caller didn't ask for while still receiving ``fixpoint_edges``,
    # which sizes the gate below without a count job of its own.
    cc = cc_stats if cc_stats is not None else {"count_rounds": False}
    stars = graph.component_stars(
        pairs.select("a", "b"), "a", "b", max_iter=max_iter, stats=cc
    )
    return joins.broadcast_if_small(
        stars, joins.COUNT_BROADCAST_MAX_ROWS, stats, label="stars",
        rows=cc["fixpoint_edges"],
    )


def elect_representatives(
    labels: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    order_col: str = "n_chars",
    min_members: int = 2,
) -> DataFrame:
    """Keep-best election over a cluster LABEL TABLE (the output of
    :func:`near_dup_clusters`, or the same table read back from a
    persisted store): for every cluster with at least ``min_members``
    members, the single representative the corpus keeps — greatest
    ``order_col``, ``id_col`` ascending tiebreak. Returns
    ``(cluster_id, n_members, rep_id, rep_order)``.

    Deliberately takes labels, not documents: clustering is the
    expensive stage, and every downstream policy (election here,
    splits, budgets) should consume ONE materialized label table
    instead of re-deriving clusters. Cost over the label table is a
    single cluster-keyed exchange — member count and rank share the
    partition key, so both window functions ride one shuffle+sort
    (pinned by tests/test_plan_quality.py); document text never moves.
    """
    w = Window.partitionBy(cluster_col)
    wo = w.orderBy(F.col(order_col).desc(), F.col(id_col))
    ranked = labels.select(
        cluster_col,
        id_col,
        order_col,
        F.count(F.lit(1)).over(w).alias("__nm"),
        F.row_number().over(wo).alias("__rn"),
    )
    return ranked.where(
        (F.col("__nm") >= min_members) & (F.col("__rn") == 1)
    ).select(
        F.col(cluster_col),
        F.col("__nm").alias("n_members"),
        F.col(id_col).alias("rep_id"),
        F.col(order_col).alias("rep_order"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document sharing at
    least one word ``n``-gram with the benchmark set — the eval-set
    leakage scrub every LLM pretraining pipeline runs (cf. GPT-3
    appendix C; Gopher appendix A1.2; both use 8-13-gram overlap at web
    scale — the default here is lower because the test corpus is short).

    Dataflow: shingle both sides row-locally, hash each shingle to a
    64-bit int, semi-join corpus shingles against DISTINCT benchmark
    shingles on the hash, anti-join the hit ids back out. Shuffles only
    (hash, id) pairs — documents are never moved; the benchmark side is
    typically tiny and broadcasts. A 64-bit hash collision could drop an
    innocent document (never leak a contaminated one) at odds ~1e-10
    per shingle pair — acceptable for a recall-first scrub.
    """
    c_sh = (
        with_shingles(
            _spread(corpus.select(id_col, text_col), id_col), text_col, n=n
        )
        .select(
            F.col(id_col).alias("__cid"),
            explode_nonempty("shingles").alias("__s"),
        )
        .select("__cid", F.xxhash64("__s").alias("__h"))
    )
    b_sh = (
        with_shingles(benchmark.select(text_col), text_col, n=n)
        .select(explode_nonempty("shingles").alias("__s"))
        .select(F.xxhash64("__s").alias("__h"))
        .distinct()
    )
    contaminated = (
        c_sh.join(b_sh, "__h", "left_semi").select("__cid").distinct()
    )
    return corpus.join(
        contaminated,
        corpus[id_col] == contaminated["__cid"],
        "left_anti",
    )


def _band_hashes(minhash_col, num_hashes: int, bands: int):
    """One 64-bit hash per LSH band (row-local): xxhash64 over the
    band's signature slice, SEEDED with the banding geometry
    ``(num_hashes, bands)``. The seed versions the hash space: band
    hashes from different geometries (e.g. a persisted 16x4 store
    joined against an 8x8 batch) can only collide at random-hash
    rates, never systematically — a geometry mismatch can therefore
    miss duplicates (callers must validate, see
    :func:`assert_compatible_stores`) but can never flood the verify
    join with structurally-wrong candidates."""
    rows_per_band = num_hashes // bands
    geometry_seed = F.lit(num_hashes * 1_000 + bands)
    return F.array(
        *[
            F.xxhash64(
                geometry_seed,
                *[
                    minhash_col[b * rows_per_band + r]
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )


def minhash_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    min_jaccard: float = 0.8,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build the PERSISTABLE signature store for incremental near-dup
    detection: ``(bands_df, sets_df)`` where ``bands_df`` is
    ``(id, band, band_hash)`` (the LSH index — ``bands`` rows × 20
    bytes per doc) and ``sets_df`` is ``(id, sh_hashes)`` (the hashed
    shingle set for exact-Jaccard verification).

    ``bands=None`` derives the banding from ``min_jaccard`` /
    ``num_hashes`` (:func:`derive_banding` — the same rule as
    :func:`minhash_lsh_pairs`, so store-based incremental detection
    stays exactly equivalent to batch detection at the same
    threshold). The full geometry is BAKED into the persisted format:
    band hashes are geometry-seeded (``_band_hashes``), so a store
    built under one banding never systematically collides with a
    batch banded differently — mismatches MISS instead of corrupt —
    and ``bands_df`` carries constant ``num_hashes`` / ``shingle_n``
    columns (bytes-free under parquet RLE) so the geometry is
    recoverable from the persisted rows themselves; their PRESENCE is
    the store format-version marker (pre-r15 stores lack them and are
    rejected as legacy — their full geometry is unverifiable, and
    pre-r14 stores additionally predate geometry seeding, so even an
    equal band count could silently match nothing).
    Both stores of an incremental join must be built with the same
    ``(num_hashes, bands, shingle_n)``; :func:`assert_compatible_stores`
    checks all three eagerly, and the streaming consumer
    (``streaming.ops.foreach_batch_near_dup_filter``) runs that check
    against its persisted store before every cross-batch join. Both derive from one
    row-local signature pass; both are documents-free, so the store a
    100 TB pipeline keeps hot is a few hundred bytes per doc. Write
    them partitioned/bucketed by their join keys and every future
    batch joins against the store instead of re-scanning the corpus
    (the MinHash signatures are row-local, so a doc's store rows never
    change as the corpus grows).

    ``materialize=True`` lazily checkpoints the shared HASHED shingle
    sets (8 bytes/shingle — the same share-one-pass restructure as
    ``minhash_lsh_pairs``: both the signature fold and ``sets_df``
    read the hashed arrays, so tokenize → shingle-concat →
    string-hash runs once) so consuming BOTH outputs as separate
    actions (the store-persist shape: write bands, then write sets)
    computes the corpus scan once instead of twice — the same opt-in
    discipline as ``near_dup_clusters(materialize=...)``. Leave False
    (default) when only one output is acted on, or when both feed ONE
    action (e.g. ``incremental_near_dups``' single job), where a
    checkpoint would only add a materialization barrier."""
    if bands is None:
        bands, _ = derive_banding(num_hashes, min_jaccard)
    hashed = with_shingles(
        _spread(df.select(id_col, text_col), id_col),
        text_col,
        n=shingle_n,
    ).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("sh_hashes"),
    )
    if materialize:
        hashed = hashed.localCheckpoint(eager=False)
    sig = with_minhash_signature(
        hashed,
        shingle_col="sh_hashes",
        num_hashes=num_hashes,
        prehashed=True,
    )
    bands_df = sig.select(
        "id",
        F.posexplode(
            _band_hashes(F.col("minhash"), num_hashes, bands)
        ).alias("band", "band_hash"),
        # Geometry metadata columns (constant per store — parquet RLE
        # stores one value per row group): make the banding geometry
        # recoverable from persisted rows so assert_compatible_stores
        # can validate the FULL (num_hashes, bands, shingle_n) triple,
        # and serve as the format-version marker (legacy stores lack
        # them entirely).
        F.lit(int(num_hashes)).alias("num_hashes"),
        F.lit(int(shingle_n)).alias("shingle_n"),
    )
    sets_df = hashed
    return bands_df, sets_df


class StoreBandingMismatch(ValueError):
    """Two MinHash stores were built under different geometries
    (``num_hashes``, band count, or ``shingle_n``) — joining them
    would silently miss near-duplicates (geometry-seeded band hashes
    never match across band geometries; different ``shingle_n`` sets
    never verify at the same threshold). The only safe remediation is
    rebuilding the older store under the current geometry: matching a
    legacy store's knobs from the new-batch side cannot be validated
    against rows hashed before geometry seeding existed."""


def assert_compatible_stores(
    new_store: tuple[DataFrame, DataFrame],
    old_store: tuple[DataFrame, DataFrame],
) -> None:
    """Eagerly verify both stores were built under the same
    ``(num_hashes, bands, shingle_n)`` geometry before an incremental
    join (raises :class:`StoreBandingMismatch`).

    The full geometry is recoverable from a store's own rows:
    ``posexplode`` emits every band index 0..bands-1 per doc so
    ``max(band) + 1`` is the band count, and :func:`minhash_store`
    writes constant ``num_hashes`` / ``shingle_n`` metadata columns.
    Cost: one min/max aggregate per side — partial-aggregated (a
    handful of ints shuffle), and on a parquet-persisted store the
    scan reads only three RLE'd int columns with footer min/max stats
    available, so this is metadata-cheap even at a 100 TB corpus's
    store size. Empty stores (no rows yet — the first micro-batch of a
    streaming run) are compatible with anything.

    Two failure classes beyond a plain mismatch:

    - LEGACY stores (persisted before the metadata columns existed)
      are rejected outright, even at an equal band count: without
      the columns, ``num_hashes`` and ``shingle_n`` CANNOT be
      verified, and an unverifiable match is exactly the silent-miss
      failure this gate exists to prevent — a pre-r14 store is
      additionally unseeded (its band hashes never match a seeded
      batch), while an r14-era store may in fact be compatible but
      cannot prove it. Column PRESENCE is the format-version marker;
      the only safe remediation is a rebuild. (The empty-store
      escape applies to current-format stores only — a legacy-schema
      store is rejected before its row count is ever consulted.)
    - MIXED stores (min ≠ max of a metadata column — e.g. two
      geometries appended into one path) are rejected as corrupt.
    """

    def _geometry_of(
        bands_df: DataFrame, label: str
    ) -> tuple[int, int, int] | None:
        missing = [
            c
            for c in ("num_hashes", "shingle_n")
            if c not in bands_df.columns
        ]
        if missing:
            raise StoreBandingMismatch(
                f"the {label} MinHash store predates the geometry "
                f"metadata format (missing column(s) {missing}): its "
                "(num_hashes, shingle_n) cannot be verified, so "
                "compatibility cannot be proven — and if it also "
                "predates geometry seeding, its band hashes can "
                "never match a current batch. Rebuild it with "
                "minhash_store under the current geometry."
            )
        row = bands_df.agg(
            F.max("band").alias("b"),
            F.min("num_hashes").alias("h_lo"),
            F.max("num_hashes").alias("h_hi"),
            F.min("shingle_n").alias("n_lo"),
            F.max("shingle_n").alias("n_hi"),
        ).collect()[0]
        if row["b"] is None:
            return None  # empty store: compatible with anything
        if row["h_lo"] != row["h_hi"] or row["n_lo"] != row["n_hi"]:
            raise StoreBandingMismatch(
                f"the {label} MinHash store mixes geometries "
                f"(num_hashes {row['h_lo']}..{row['h_hi']}, shingle_n "
                f"{row['n_lo']}..{row['n_hi']}) — likely two "
                "differently-built stores appended into one path. "
                "Rebuild it from the source corpus."
            )
        return (int(row["h_lo"]), int(row["b"]) + 1, int(row["n_lo"]))

    ng = _geometry_of(new_store[0], "new-batch")
    og = _geometry_of(old_store[0], "persisted")
    if ng is not None and og is not None and ng != og:
        raise StoreBandingMismatch(
            "incompatible MinHash stores: new batch built with "
            f"(num_hashes={ng[0]}, bands={ng[1]}, shingle_n={ng[2]}), "
            f"persisted store with (num_hashes={og[0]}, "
            f"bands={og[1]}, shingle_n={og[2]}). Rebuild the "
            "persisted store under the current geometry."
        )


def stamp_store_geometry(
    bands_df: DataFrame,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """ONE-SHOT MIGRATION for r14-era bands stores: append the
    ``num_hashes`` / ``shingle_n`` metadata columns
    :func:`assert_compatible_stores` requires, under a caller
    ATTESTATION of the geometry the store was built with — the
    alternative the strict gate otherwise forces is a full corpus
    rebuild, needless for a store whose band hashes are already
    geometry-seeded and whose knobs the operator knows.

    The attestation is load-bearing and PARTIALLY verifiable:

    - the band count is recovered from the rows (``max(band) + 1``)
      and must not exceed the attested ``num_hashes`` — a store
      banded wider than its signature is impossible, so that
      attestation error is caught here;
    - ``num_hashes`` itself and ``shingle_n`` are NOT recoverable
      from an unstamped store — if the attested values are wrong,
      cross-batch joins quietly MISS (geometry-seeded band hashes
      from the true geometry never match the attested one's), which
      is exactly the failure the metadata gate exists to surface.
      Only stamp values taken from the pipeline config that built
      the store, never guesses.
    - pre-r14 stores (built before geometry seeding) must NOT be
      stamped: their band hashes can never match a current batch
      regardless of metadata, so stamping converts a loud rejection
      into a silent total miss. If provenance is unknown, rebuild.

    Stores already carrying metadata columns are refused (re-stamping
    with different values would manufacture a MIXED store). Rewrite
    the returned frame over the persisted path once; the stamped
    columns are constant per store, so parquet RLE stores them for
    free. Cost: one ``max(band)`` aggregate + a rewrite of the
    (documents-free, bytes-per-doc) bands table — no corpus scan,
    no re-hashing.
    """
    present = [
        c for c in ("num_hashes", "shingle_n") if c in bands_df.columns
    ]
    if present:
        raise StoreBandingMismatch(
            f"store already carries geometry metadata {present} — "
            "stamping again could manufacture a mixed-geometry store. "
            "Use assert_compatible_stores to validate it instead."
        )
    if num_hashes < 1 or shingle_n < 1:
        raise ValueError(
            f"attested geometry must be positive, got num_hashes="
            f"{num_hashes}, shingle_n={shingle_n}"
        )
    row = bands_df.agg(F.max("band").alias("b")).collect()[0]
    if row["b"] is not None and int(row["b"]) + 1 > num_hashes:
        raise StoreBandingMismatch(
            f"store has {int(row['b']) + 1} bands but the attested "
            f"num_hashes is {num_hashes} — a store cannot be banded "
            "wider than its signature, so the attestation is wrong. "
            "Rebuild from the source corpus."
        )
    return bands_df.select(
        "*",
        F.lit(int(num_hashes)).alias("num_hashes"),
        F.lit(int(shingle_n)).alias("shingle_n"),
    )


def incremental_near_dups(
    new_store: tuple[DataFrame, DataFrame],
    old_store: tuple[DataFrame, DataFrame],
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Near-duplicates of a NEW batch against an EXISTING signature
    store (both from :func:`minhash_store`): the production shape for
    continuous ingestion — never recluster the world, join the new
    batch's bands against the stored index. Returns
    ``(new_id, old_id, jaccard_sim)``.

    Because signatures and band hashes are row-local, incremental
    detection is EXACTLY equivalent to batch detection restricted to
    cross-batch pairs (pinned in tests/test_dedup.py): full-corpus
    pairs = old-batch pairs ∪ new-batch pairs ∪ this join's output.
    Cost: the new batch's bands (tiny) shuffle against the stored
    index on (band, band_hash) — with the store bucketed on that key,
    only the new batch moves."""
    nb, ns = new_store
    ob, os_ = old_store
    candidates = (
        nb.alias("n")
        .join(
            ob.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        .select(
            F.col("n.id").alias("new_id"), F.col("o.id").alias("old_id")
        )
        .distinct()
    )
    return (
        candidates.join(
            ns.select(F.col("id").alias("new_id"), F.col("sh_hashes").alias("__na")),
            "new_id",
        )
        .join(
            os_.select(F.col("id").alias("old_id"), F.col("sh_hashes").alias("__oa")),
            "old_id",
        )
        .select(
            "new_id",
            "old_id",
            jaccard(F.col("__na"), F.col("__oa")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= min_jaccard)
    )


def shingle_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Per-document content novelty against the earlier corpus: for
    each document, the fraction of its DISTINCT word ``n``-gram
    shingles that no strictly-earlier document (lower ``id_col``)
    contains. The incremental-crawl signal of web-corpus pipelines —
    "how much of this page is new text vs. recombination of content we
    already hold" — used to down-weight scraped mirrors and SEO spam
    before any pairwise dedup runs.

    Dataflow: shingle row-locally, hash each shingle to md5 so the
    shuffle moves 16-byte keys instead of n-word strings, aggregate
    ``min(id)`` per shingle (the corpus-wide first sighting — one
    hash-keyed shuffle with map-side partial min), join each
    (id, shingle-hash) pair back to its first sighting on the same key
    (AQE picks the strategy; the first-sighting table is the distinct
    shingle set, never documents), then fold to one row per document.
    After the one deliberate ``_spread`` exchange (small-file layouts
    arrive as few partitions, serializing the shingle+md5 map onto a
    handful of cores — measured 13 s single-core vs <2 s spread at
    sf0.1), every shuffled row is (16-byte hash, id): no
    shingle-keyed exchange ever carries document text — pinned by
    ``tests/test_curation_extras.py``'s Exchange gate. An md5
    collision merges two shingles' first sightings — odds ~1e-20 per
    pair, acceptable for a scoring signal.

    Returns ``(id, n_shingles bigint, n_seen_before bigint,
    novelty_frac double)`` with the raw double fraction (callers round
    for cross-engine comparison). ``novelty_frac = 1`` ⇔ every shingle
    first appears in this document (all of the corpus' earliest
    documents score 1.0 by construction).
    """
    pairs = (
        with_shingles(
            _spread(df.select(id_col, text_col), id_col), text_col, n=n
        )
        .select(F.col(id_col), explode_nonempty("shingles").alias("__s"))
        .select(id_col, F.md5("__s").alias("__h"))
        # Materialized once: both the first-sighting aggregate and the
        # join probe read the (id, hash) pair table instead of each
        # re-running the shingle HOF + md5 over every document (the
        # same share-across-consumers discipline as dedup.minhash
        # signatures; measured ~2× on the sf0.1 corpus).
        .localCheckpoint(eager=False)
    )
    first_seen = pairs.groupBy("__h").agg(F.min(id_col).alias("__first"))
    return (
        pairs.join(first_seen, "__h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("__first") < F.col(id_col)).cast("long")
            ).alias("n_seen_before"),
        )
        .withColumn(
            "novelty_frac",
            F.lit(1.0) - F.col("n_seen_before") / F.col("n_shingles"),
        )
    )


class ContainmentCandidateBudgetExceeded(RuntimeError):
    """``containment_pairs(max_candidates=...)`` measured a candidate
    upper bound past the caller's budget BEFORE running the enumerator
    join. Containment output is pair-shaped: a boilerplate-heavy
    100 TB corpus can legally emit billions of ordered pairs
    (output-linear is the operator's optimal contract — SCALING.md
    certified constant pairs/s at ×100 — but output VOLUME itself is
    the cost), and without this gate the only forewarning was the job
    running for minutes. Remediation: raise the budget if the volume
    is intended, tighten ``min_containment`` / raise ``n`` to shrink
    it, or — when the goal is SURVIVORS rather than an audit of every
    pair — use :func:`near_dup_clusters`, which collapses pair volume
    into one label per document."""


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    min_containment: float = 0.9,
    stats: dict | None = None,
    max_candidates: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplication: ordered pairs ``(a, b)`` where at
    least ``min_containment`` of ``a``'s distinct ``n``-gram shingles
    also appear in ``b`` — the sub-document duplication detector
    (quote-expansion pages, article + boilerplate wrappers, excerpt
    farms) that symmetric Jaccard structurally misses: a short doc
    fully contained in a long one has low Jaccard but containment 1.0.

    Candidate generation is prefix-filtered on the CONTAINED side
    only: if ``|A∩B| >= ceil(t·|A|)`` then ANY subset of A with
    ``|A| - ceil(t·|A|) + 1`` elements must hit B (pigeonhole — the
    subset choice is free, which is what makes the ordering below
    legal), so A explodes just a prefix while B explodes its full
    shingle set into the inverted index (containment gives no pruning
    bound on B; the index is the corpus shingle table, the same asset
    the decontamination join uses). Exact set-intersect verify on
    candidates; consumers read ONE materialized hashed-set table.
    Returns ``(a, b, containment)`` — ordered, both directions
    possible.

    The prefix is DF-ORDERED (rarest-first — each A's prefix holds
    its globally least-frequent shingles by corpus document
    frequency), not hash-ordered. This is load-bearing at scale, r15
    measured: with a hash-ordered (i.e. random) prefix, a prefix
    member is a background-vocabulary shingle with probability ~1, so
    candidate volume is ~(1-t)·Σ df² — effectively quadratic on
    Zipf-distributed text (144 s at 50k realistic docs, DNF-class at
    500k). Rarest-first prefixes join against the SHORTEST posting
    lists instead: the same 50k-doc cell drops to seconds, and growth
    re-enters the linear class (BENCH_ZIPF.json `zipfsk:` cells). The
    cost is one df aggregation over the index (vocabulary-sized,
    map-side combined) plus an id-keyed window to rank each set's
    shingles — both linear, both shuffling only (id, hash, df)
    triples. (The symmetric-Jaccard path measured df-ordering NOT
    worth it on the near-uniform synthetic corpus — r5 note in
    :func:`ngram_jaccard_pairs` — but that path is auto-gated to
    small corpora; this one has no LSH fallback, so its index must be
    scale-safe by construction.)

    OUTPUT-VOLUME FOREWARNING (r16, VERDICT task #3): ``stats`` /
    ``max_candidates`` surface the enumerator's cost BEFORE the pair
    join runs, the ``exact_index_fanout`` convention. When either is
    passed, the ranked prefix table (already built for the join) is
    materialized once and ``Σ df(h)`` over its rows — the exact size
    of the candidate join's output before self-pair removal and
    dedup, hence an upper bound on both candidates and emitted pairs
    — is recorded as ``stats["candidate_bound"]`` (with
    ``stats["prefix_rows"]``, the self-match count included in the
    bound); if it exceeds ``max_candidates``,
    :class:`ContainmentCandidateBudgetExceeded` raises with the
    measured bound instead of enumerating for minutes. Cost: one
    sum-aggregate action over the (id, shingle, df) prefix rows the
    join consumes anyway — linear, vocabulary-keyed, and shared via
    checkpoint with the join when it proceeds. With neither knob the
    plan is byte-identical to r15's (no extra action, fully lazy
    construction). Pair volume vs survivors: this operator is the
    AUDIT surface (every ordered pair, e.g. boilerplate-wrapper
    forensics); pipelines that only need the kept documents should
    run :func:`near_dup_clusters` instead — one label per document,
    no quadratic output even on a fully-duplicated corpus.
    """
    sets = (
        with_shingles(
            _spread(df.select(id_col, text_col), id_col), text_col, n=n
        )
        .select(
            F.col(id_col).alias("__id"),
            F.array_sort(
                F.array_distinct(
                    F.transform("shingles", lambda s: F.xxhash64(s))
                )
            ).alias("__sh"),
        )
        .withColumn("set_size", F.size("__sh"))
        .localCheckpoint(eager=False)  # feeds prefix, index, and verify
    )
    t = float(min_containment)
    prefix_len = (
        F.col("set_size") - F.ceil(F.lit(t) * F.col("set_size")) + 1
    ).cast("int")
    index = sets.select(
        F.col("__id").alias("__b"),
        explode_nonempty("__sh").alias("sh"),
    ).localCheckpoint(eager=False)  # feeds df counts AND the cand join
    dfreq = index.groupBy("sh").agg(
        F.count(F.lit(1)).alias("__df")
    )
    rank_w = Window.partitionBy("__id").orderBy("__df", "sh")
    pref_ranked = (
        index.select(F.col("__b").alias("__id"), "sh")
        .join(dfreq, "sh")
        .withColumn("__rk", F.row_number().over(rank_w))
        .join(
            sets.select("__id", prefix_len.alias("__plen")), "__id"
        )
        .where(F.col("__rk") <= F.col("__plen"))
        .select(F.col("__id").alias("__a"), "sh", "__df")
    )
    if stats is not None or max_candidates is not None:
        # Probe path (docstring): materialize the ranked prefix once
        # (the join reuses it), bound the candidate volume, and gate.
        pref_ranked = pref_ranked.localCheckpoint(eager=False)
        row = pref_ranked.agg(
            F.sum("__df").cast("long").alias("bound"),
            F.count(F.lit(1)).cast("long").alias("rows"),
        ).collect()[0]
        bound = int(row["bound"] or 0)
        if stats is not None:
            stats["candidate_bound"] = bound
            stats["prefix_rows"] = int(row["rows"] or 0)
        if max_candidates is not None and bound > max_candidates:
            raise ContainmentCandidateBudgetExceeded(
                f"containment_pairs candidate bound {bound} exceeds "
                f"max_candidates {max_candidates} (prefix rows: "
                f"{int(row['rows'] or 0)}). Tighten min_containment/"
                "n, raise the budget, or use near_dup_clusters for "
                "survivor semantics."
            )
    pref = pref_ranked.select("__a", "sh")
    cand = (
        pref.join(index, "sh")
        .filter(F.col("__a") != F.col("__b"))
        .select("__a", "__b")
        .distinct()
    )
    return (
        cand.join(
            sets.select(
                F.col("__id").alias("__a"),
                F.col("__sh").alias("__sa"),
                F.col("set_size").alias("__na"),
            ),
            "__a",
        )
        .join(
            sets.select(
                F.col("__id").alias("__b"), F.col("__sh").alias("__sb")
            ),
            "__b",
        )
        .select(
            F.col("__a").alias("a"),
            F.col("__b").alias("b"),
            (
                F.size(F.array_intersect("__sa", "__sb"))
                / F.col("__na")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= t)
    )
