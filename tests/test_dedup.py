"""Invariants for the approximate dedup operators (no SQL oracle):
MinHash/LSH and SimHash are checked against the exact n-gram Jaccard
oracle on the same data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_pipeline_optimization_spark.operators import dedup
from financial_data_pipeline_optimization_spark.sources import load_table

from .conftest import SF_CORRECTNESS


def test_minhash_pairs_are_verified_subset(spark):
    """Every emitted MinHash pair carries an exact Jaccard >= threshold
    (the verify stage guarantees no false positives)."""
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=2, min_jaccard=0.8
    ).collect()
    assert pairs, "expected planted near-duplicates to be found"
    assert all(p.jaccard_sim >= 0.8 for p in pairs)


def test_minhash_recall_vs_exact(spark):
    """LSH with derived banding (8 bands x 8 rows at t=0.9, 64 hashes)
    must recover nearly all pairs with Jaccard >= 0.9 (collision prob
    at s=0.9: 1-(1-.9^8)^8 ≈ 0.989; planted dups sit well above)."""
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    exact = {
        (r.a, r.b)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, min_jaccard=0.9
        ).collect()
    }
    approx = {
        (r.a, r.b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", shingle_n=2, min_jaccard=0.9
        ).collect()
    }
    assert exact, "oracle found no pairs — test data assumption broken"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f} below 0.95"


def test_simhash_hamming_invariant(spark):
    """Emitted SimHash pairs respect the Hamming bound, and banding
    loses nothing: every pair within distance bands-1 shares a chunk."""
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    pairs = dedup.simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, bands=4
    ).collect()
    assert all(p.hamming <= 3 for p in pairs)


def test_minhash_dedup_removes_only_dupes(spark):
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    kept = dedup.minhash_dedup(
        docs, "doc_id", "text", min_jaccard=0.8, shingle_n=2
    )
    n_docs = docs.count()
    n_kept = kept.count()
    n_dupes = (
        dedup.minhash_lsh_pairs(docs, "doc_id", "text", shingle_n=2,
                                min_jaccard=0.8)
        .select("b").distinct().count()
    )
    assert n_kept == n_docs - n_dupes
    # the kept set never drops the lowest doc_id of a duplicate cluster
    min_id = docs.agg(F.min("doc_id")).collect()[0][0]
    assert kept.filter(F.col("doc_id") == min_id).count() == 1


def test_exact_dedup_idempotent(spark):
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    once = dedup.exact_dedup(docs, ["text"], "doc_id")
    twice = dedup.exact_dedup(once, ["text"], "doc_id")
    assert once.count() == twice.count()


def test_incremental_near_dups_equals_batch_restricted(spark):
    """Incremental dedup (new batch vs stored signatures) must be
    EXACTLY the batch result restricted to cross-batch pairs:
    full-corpus LSH pairs = old-only pairs ∪ new-only pairs ∪
    incremental pairs. Holds exactly because signatures and band
    hashes are row-local (a doc's store rows don't depend on the rest
    of the corpus)."""
    from financial_data_pipeline_optimization_spark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)

    def pairs(df):
        return {
            (min(r.a, r.b), max(r.a, r.b))
            for r in dedup.minhash_lsh_pairs(
                df, "doc_id", "text", shingle_n=2, min_jaccard=0.8
            ).collect()
        }

    full = pairs(docs)
    old_only = pairs(old)
    new_only = pairs(new)
    inc = {
        (min(r.new_id, r.old_id), max(r.new_id, r.old_id))
        for r in dedup.incremental_near_dups(
            dedup.minhash_store(new, "doc_id", "text", shingle_n=2),
            dedup.minhash_store(old, "doc_id", "text", shingle_n=2),
            min_jaccard=0.8,
        ).collect()
    }
    assert full, "planted near-dups should produce pairs"
    assert inc, "cross-batch near-dups should exist in planted data"
    assert full == old_only | new_only | inc


def test_containment_catches_subdocument_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment(a in b)
    = 1.0 while Jaccard is far below any near-dup threshold — the
    asymmetric detector's reason to exist. Direction matters: the
    long doc is NOT contained in the short one."""
    short = "alpha beta gamma delta"
    filler = " ".join(f"w{i} x{i}" for i in range(40))
    rows = [(1, short), (2, short + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.a, r.b): r.containment
        for r in dedup.containment_pairs(
            df, "doc_id", "text", n=2, min_containment=0.9
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.99
    assert (2, 1) not in pairs
    jac = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=2, min_jaccard=0.5
    ).collect()
    assert not jac, "Jaccard must miss the asymmetric pair"


def test_containment_prefix_filter_is_lossless(spark):
    """The prefix-filtered candidate set must reproduce the exact
    brute-force ordered-pair set on the real corpus slice."""
    import itertools

    from financial_data_pipeline_optimization_spark.operators.text import tokens

    docs = load_table(spark, SF_CORRECTNESS, "documents").limit(120)
    got = {
        (r.a, r.b)
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=2, min_containment=0.9
        ).collect()
    }

    def bigrams(toks):
        if len(toks) <= 1:
            return set(toks or [""])
        return {" ".join(p) for p in zip(toks, toks[1:])}

    sets = {
        r.doc_id: bigrams(list(r.tk))
        for r in docs.select(
            "doc_id", tokens("text").alias("tk")
        ).collect()
    }
    want = set()
    for a, b in itertools.permutations(sets, 2):
        sa = sets[a]
        if sa and len(sa & sets[b]) / len(sa) >= 0.9:
            want.add((a, b))
    assert got == want


def test_elect_representatives_matches_reference(spark):
    """Election over a hand-built label table: longest member wins,
    id-ascending tiebreak, singletons dropped at min_members=2."""
    labels = spark.createDataFrame(
        [
            (1, 10, 100),  # cluster 10: doc 1 (100 ch)
            (2, 10, 300),  #             doc 2 (300 ch)  <- rep
            (3, 10, 300),  #             doc 3 (300 ch, loses tiebreak)
            (4, 40, 50),   # singleton: dropped
            (5, 50, 10),   # cluster 50: tie at 10, doc 5 wins
            (6, 50, 10),
        ],
        "doc_id long, cluster_id long, n_chars long",
    )
    got = {
        (r.cluster_id, r.n_members, r.rep_id, r.rep_order)
        for r in dedup.elect_representatives(labels).collect()
    }
    assert got == {(10, 3, 2, 300), (50, 2, 5, 10)}
# for tests/test_dedup.py

def test_exact_index_fanout_upper_bounds_candidates(spark):
    """The gate metric's contract: Σ C(df,2) over prefix posting
    lists is an UPPER bound on the candidates the exact join can emit
    (the join adds size-ratio + positional pruning on top, and a pair
    can collide on several prefix elements — both only reduce or
    re-verify). If this inverts, the gate would under-predict the
    exact path's cost and wave through a DNF."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    sets = dedup._hashed_sorted_sets(docs, "doc_id", "text", 2)
    fanout = dedup.exact_index_fanout(sets, 0.8)
    st = {}
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, min_jaccard=0.8, stats=st
    )
    n_verified = pairs.count()
    assert fanout >= st["candidate_pairs"] >= n_verified
    assert fanout > 0


def test_containment_df_ordered_prefix_exact(spark):
    """The r15 rarest-first prefix: every doc shares a heavy
    background shingle (the Zipf-vocabulary shape that made the
    hash-ordered prefix quadratic), and the planted containment pairs
    must still ALL surface — the pigeonhole bound holds for ANY
    prefix subset, so df-ordering changes cost, never results.
    Verified against a brute-force all-pairs containment oracle."""
    import itertools

    # Every doc starts with the same boilerplate (heavy shingles);
    # the distinguishing tail is rare. Doc 3 contains doc 1's tail.
    rows = [
        (1, "the same header text alpha beta gamma"),
        (2, "the same header text delta epsilon zeta"),
        (3, "the same header text alpha beta gamma eta theta iota"),
        (4, "the same header text kappa"),
        (5, "totally unrelated words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a, r.b): r.containment
        for r in dedup.containment_pairs(
            df, "doc_id", "text", n=2, min_containment=0.8
        ).collect()
    }

    def bigrams(s):
        w = s.split()
        return {" ".join(w[i : i + 2]) for i in range(len(w) - 1)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.permutations(rows, 2):
        a, b = bigrams(ta), bigrams(tb)
        c = len(a & b) / len(a)
        if c >= 0.8:
            want[(ia, ib)] = c
    assert set(got) == set(want), (got, want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9, (k, got[k], v)


def test_containment_candidate_bound_and_budget(spark):
    """r16 (VERDICT task #3): the stats hook bounds the enumerator's
    output BEFORE the pair join runs — candidate_bound >= actual
    emitted pairs (it counts every posting-list hit of every prefix
    shingle, pre-dedup and pre-verify, self-matches included); the
    probe changes no results; max_candidates raises with the measured
    bound instead of enumerating."""
    import pytest as _pytest

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    st: dict = {}
    probed = sorted(
        (r.a, r.b, round(r.containment, 9))
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=2, min_containment=0.9, stats=st
        ).collect()
    )
    plain = sorted(
        (r.a, r.b, round(r.containment, 9))
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=2, min_containment=0.9
        ).collect()
    )
    assert probed == plain  # probe never changes results
    assert st["candidate_bound"] >= st["prefix_rows"] > 0
    # The bound dominates the TRUE pair count (pairs are candidates
    # that additionally survived dedup + exact verify).
    assert st["candidate_bound"] >= len(probed)

    # Budget gate: raises with the measured bound, before enumerating.
    with _pytest.raises(
        dedup.ContainmentCandidateBudgetExceeded, match="candidate bound"
    ):
        dedup.containment_pairs(
            docs, "doc_id", "text", n=2, min_containment=0.9,
            max_candidates=1,
        )

    # A budget the bound fits under is inert.
    ok = dedup.containment_pairs(
        docs, "doc_id", "text", n=2, min_containment=0.9,
        max_candidates=st["candidate_bound"],
    )
    assert sorted(
        (r.a, r.b, round(r.containment, 9)) for r in ok.collect()
    ) == plain


def test_near_dup_auto_gate_both_ways(spark):
    """The r15 scale gate: pair_source='auto' (the default) measures
    the exact prefix-index fan-out and picks exact under the budget,
    LSH over it — so the DEFAULT path can never take the r14
    skewed-corpus DNF. Pinned both ways on the same corpus by moving
    the budget, plus the stats hook and the explicit-override
    contract (no probe action when the caller chose)."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    # Under budget (driver-SF corpus, fan-out ~7e4): gate keeps exact.
    st = {}
    auto = {
        r.doc_id: r.cluster_id
        for r in dedup.near_dup_clusters(
            docs, "doc_id", "text", n=2, min_jaccard=0.8, stats=st
        ).collect()
    }
    assert st["pair_source"] == "exact"
    assert 0 < st["exact_index_fanout"] <= dedup.EXACT_FANOUT_BUDGET
    exact = {
        r.doc_id: r.cluster_id
        for r in dedup.near_dup_clusters(
            docs, "doc_id", "text", n=2, min_jaccard=0.8,
            pair_source="exact",
        ).collect()
    }
    assert auto == exact

    # Over budget (forced with budget=0): gate falls to LSH; LSH
    # clusters REFINE exact clusters (verified pairs are a subset).
    st_lsh = {}
    lsh = {
        r.doc_id: r.cluster_id
        for r in dedup.near_dup_clusters(
            docs, "doc_id", "text", n=2, min_jaccard=0.8,
            exact_fanout_budget=0, stats=st_lsh,
        ).collect()
    }
    assert st_lsh["pair_source"] == "lsh"
    assert set(lsh) == set(exact)
    for x, cx in lsh.items():
        for y, cy in lsh.items():
            if cx == cy:
                assert exact[x] == exact[y], (x, y)

    # Explicit override: the caller's choice is honored verbatim and
    # the probe never runs (no fan-out recorded).
    st_explicit = {}
    dedup.near_dup_clusters(
        docs, "doc_id", "text", n=2, min_jaccard=0.8,
        pair_source="lsh", stats=st_explicit, materialize=False,
    )
    assert st_explicit["pair_source"] == "lsh"
    assert "exact_index_fanout" not in st_explicit  # probe skipped
    # The star-forest broadcast gate reports through the same stats
    # dict. Its size is the CC loop's fixpoint edge count (one edge
    # per non-representative document), so no separate count job runs
    # at construction; on this tiny corpus it is far under budget, so
    # the gate must choose the broadcast.
    assert st_explicit["stars_join"] == "broadcast"
    assert 0 <= st_explicit["stars_rows"] < len(lsh)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pair_source"):
        dedup.near_dup_clusters(
            docs, "doc_id", "text", pair_source="bogus"
        )


def test_near_dup_auto_gate_error_mode(spark):
    """r16 (ADVICE): exact-closure-sensitive callers forbid the
    silent LSH downgrade with on_budget_exceeded='error' — past the
    budget the gate raises ExactFanoutBudgetExceeded (with the
    measured fan-out recorded in stats) instead of flipping; under
    budget and for explicit pair_source values the mode is inert."""
    import pytest as _pytest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    # Over budget (forced): raise, never flip; fan-out still observable.
    st = {}
    with _pytest.raises(
        dedup.ExactFanoutBudgetExceeded, match="pair_source='lsh'"
    ):
        dedup.near_dup_clusters(
            docs, "doc_id", "text", n=2, min_jaccard=0.8,
            exact_fanout_budget=0, on_budget_exceeded="error",
            stats=st,
        )
    assert st["exact_index_fanout"] > 0
    assert "pair_source" not in st  # no source was chosen

    # Under budget: error mode is inert, exact path chosen as usual.
    st_ok = {}
    dedup.near_dup_clusters(
        docs, "doc_id", "text", n=2, min_jaccard=0.8,
        on_budget_exceeded="error", stats=st_ok, materialize=False,
    )
    assert st_ok["pair_source"] == "exact"

    # Explicit pair_source skips the probe entirely — error mode
    # cannot fire even with a zero budget.
    st_lsh = {}
    dedup.near_dup_clusters(
        docs, "doc_id", "text", n=2, min_jaccard=0.8,
        pair_source="lsh", exact_fanout_budget=0,
        on_budget_exceeded="error", stats=st_lsh, materialize=False,
    )
    assert st_lsh["pair_source"] == "lsh"
    assert "exact_index_fanout" not in st_lsh  # probe skipped

    with _pytest.raises(ValueError, match="on_budget_exceeded"):
        dedup.near_dup_clusters(
            docs, "doc_id", "text", on_budget_exceeded="bogus"
        )


def test_leakage_sensitive_callers_refuse_silent_flip(spark, monkeypatch):
    """r16 (ADVICE medium): leakage_safe_split and the curation
    funnel's near-dedup stage run the auto gate with
    on_budget_exceeded='error' — with the budget forced to zero they
    RAISE rather than silently split/count on the finer LSH
    clustering."""
    import pytest as _pytest
    from financial_data_pipeline_optimization_spark.plans import corpus
    from financial_data_pipeline_optimization_spark.queries import (
        statsfit,
    )

    # The budget is bound at def time; force the flip by making the
    # probe report a fan-out past any budget.
    monkeypatch.setattr(
        dedup, "exact_index_fanout", lambda *_a, **_k: 10**18
    )

    with _pytest.raises(dedup.ExactFanoutBudgetExceeded):
        statsfit.q_leakage_safe_split(
            spark, "/root/testdata/sf0.001"
        ).collect()

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    with _pytest.raises(dedup.ExactFanoutBudgetExceeded):
        corpus.funnel_counts_df(docs).collect()
    with _pytest.raises(dedup.ExactFanoutBudgetExceeded):
        corpus.curate_corpus(docs).collect()

    # The explicit LSH opt-in is the sanctioned path at scale: no
    # probe, no raise, even under a zero budget.
    corpus.funnel_counts_df(docs, pair_source="lsh").first()


def test_lsh_megacluster_bounded_and_matches_exact(spark):
    """Planted pathological skew (the 100 TB hot-bucket shape): one
    template repeated 300x means ONE LSH bucket holds a complete
    mega-cluster clique. The LSH cluster path must (a) keep per-round
    star edges NON-INCREASING from the initial clique pairs
    (large-star absorbs the hot star instead of exploding it),
    (b) collapse the mega-cluster to one cluster holding every copy,
    and (c) label the corpus exactly like the exact-pair path.

    300 copies keeps the exact-path comparison affordable: pair
    GENERATION inside one bucket is intrinsically quadratic in copies
    (any pairwise near-dup definition is), which is why the production
    pipeline order puts content-hash exact_dedup BEFORE MinHash — a
    10^4-identical-copy template never reaches the LSH stage at all.
    What this test pins is the part that must absorb whatever skew
    survives: the cluster stage's per-round edge bound."""
    from financial_data_pipeline_optimization_spark.operators.graph import (
        connected_components,
    )

    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 100)
    )
    template = base.orderBy("doc_id").limit(1).collect()[0].text
    copies = spark.range(300).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit(template).alias("text"),
    )
    corpus = base.unionByName(copies).localCheckpoint(eager=False)

    def labels(source):
        return {
            r.doc_id: r.cluster_id
            for r in dedup.near_dup_clusters(
                corpus, "doc_id", "text", n=2, min_jaccard=0.8,
                pair_source=source,
            ).collect()
        }

    exact, lsh = labels("exact"), labels("lsh")
    assert lsh == exact, "LSH clusters must match exact on this corpus"
    mega = {d for d, c in lsh.items() if c == lsh[1_000_000]}
    assert {1_000_000 + i for i in range(300)} <= mega
    # The template's original doc joins its copies' cluster, and the
    # cluster label is the component minimum.
    assert min(mega) == lsh[1_000_000]

    # Per-round edge growth through the LSH edge source: star rounds
    # never add edges (Kiveris et al. invariant), so the planted
    # clique's pair count is the high-water mark.
    pairs = dedup.minhash_lsh_pairs(
        corpus, "doc_id", "text", shingle_n=2, min_jaccard=0.8
    ).select("a", "b").localCheckpoint(eager=False)
    n_pairs = pairs.count()
    assert n_pairs >= 300 * 299 // 2  # the clique really is there
    stats = {}
    connected_components(pairs, "a", "b", stats=stats)
    growth = stats["edges_per_round"]
    assert all(
        later <= earlier
        for earlier, later in zip([n_pairs] + growth, growth)
    ), (n_pairs, growth)
    # Converged star forest: at most one edge per non-root node.
    assert growth[-1] < 300 + 100


def test_derive_banding():
    """The r14 default-banding rule: the divisor pair with the largest
    S-curve midpoint (1/b)^(1/r) at or below the verify threshold."""
    # t=0.8, 64 hashes: 8x8 (midpoint 0.771); 4x16's 0.917 is above.
    assert dedup.derive_banding(64, 0.8) == (8, 8)
    # t=0.9 still 8x8 (0.917 > 0.9); t=0.92 admits 4x16.
    assert dedup.derive_banding(64, 0.9) == (8, 8)
    assert dedup.derive_banding(64, 0.92) == (4, 16)
    # t=0.5: 16x4's midpoint is exactly 0.5 — the old fixed default
    # was the right banding for a 0.5 threshold, not 0.8.
    assert dedup.derive_banding(64, 0.5) == (16, 4)
    # Exact-match threshold: one band of all hashes.
    assert dedup.derive_banding(64, 1.0) == (1, 64)
    # Threshold below every midpoint: every hash its own band.
    assert dedup.derive_banding(64, 0.001) == (64, 1)
    # Non-power-of-two budgets work (divisor enumeration, not log2).
    b, r = dedup.derive_banding(60, 0.8)
    assert b * r == 60 and (1 / b) ** (1 / r) <= 0.8
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.derive_banding(0, 0.8)


def test_default_banding_collapses_background_candidates(spark):
    """The r13 corpus-realism finding (SCALING.md zipf section), now
    the DEFAULT: fixed 16-band x 4-row banding has its S-curve
    midpoint at J=0.5, so on shared-vocabulary text it surfaces the
    whole [0.5, 0.8) dead zone as candidates the 0.8 verify join then
    discards; the derived 8 x 8 banding (same 64-hash budget) moves
    the midpoint to ~0.77. Pinned on a corpus built to have high
    background Jaccard (~0.5-0.7, all docs sampled from 12 frequent
    tokens) plus one exact-dup pair: the derived default must (a)
    still emit the planted exact pair — J=1 collides in EVERY band
    under any banding — and (b) produce strictly fewer banded
    candidates than the retired 16x4 banding."""
    import random

    from financial_data_pipeline_optimization_spark.operators import dedup

    rng = random.Random(13)
    vocab = [f"tok{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(30)))
        for i in range(60)
    ]
    rows.append((1000, rows[0][1]))  # exact dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")

    stats_16x4, stats_default = {}, {}
    pairs_16x4 = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "text", shingle_n=2, min_jaccard=0.8, bands=16,
            stats=stats_16x4,
        ).collect()
    }
    default_pairs = {
        (r["a"], r["b"])
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "text", shingle_n=2, min_jaccard=0.8,
            stats=stats_default,
        ).collect()
    }
    assert (0, 1000) in pairs_16x4
    assert (0, 1000) in default_pairs
    # Verified output agrees up to banding recall: the derived default
    # may MISS some near-threshold pairs (the documented S-curve trade)
    # but must never invent one the 16x4 banding's verify would reject.
    assert default_pairs <= pairs_16x4
    assert stats_default["candidate_pairs"] < stats_16x4["candidate_pairs"]


def test_store_banding_mismatch_detected(spark):
    """The r14 migration gate: a store persisted under one banding
    geometry joined against a batch banded differently must (a) be
    caught eagerly by assert_compatible_stores and (b) never produce
    systematic cross-geometry band-hash matches (geometry-seeded
    hashes), so a missed guard degrades to missed dups — never to
    corrupt candidates flooding the verify join."""
    import pytest as _pytest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    # Same geometry (both derived from the same threshold): compatible.
    s_new = dedup.minhash_store(new, "doc_id", "text", shingle_n=2)
    s_old = dedup.minhash_store(old, "doc_id", "text", shingle_n=2)
    dedup.assert_compatible_stores(s_new, s_old)
    # Legacy 16-band store vs derived 8-band batch: caught.
    s_old_16 = dedup.minhash_store(
        old, "doc_id", "text", shingle_n=2, bands=16
    )
    with _pytest.raises(dedup.StoreBandingMismatch):
        dedup.assert_compatible_stores(s_new, s_old_16)
    # Geometry seeding: the mismatched join structurally cannot match
    # band hashes (beyond ~2^-64 chance), even for band indices both
    # geometries share.
    nb, _ = s_new
    ob16, _ = s_old_16
    cross = nb.alias("n").join(
        ob16.alias("o"),
        (F.col("n.band") == F.col("o.band"))
        & (F.col("n.band_hash") == F.col("o.band_hash")),
    )
    assert cross.count() == 0
    # An EMPTY persisted store (first streaming micro-batch) is
    # compatible with anything.
    empty = (
        s_old[0].where(F.lit(False)),
        s_old[1].where(F.lit(False)),
    )
    dedup.assert_compatible_stores(s_new, empty)


def test_store_full_geometry_mismatches_detected(spark):
    """The r15 ADVICE gate: band COUNT equality is not geometry
    equality. num_hashes=32 and num_hashes=64 both derive 8 bands at
    t=0.8 (8x4 vs 8x8), so a bands-only check would pass while the
    geometry-seeded hashes match nothing — the silent-miss failure.
    Same for shingle_n, legacy stores (no metadata columns), and
    mixed stores."""
    import pytest as _pytest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    s_new = dedup.minhash_store(new, "doc_id", "text", shingle_n=2)

    # Same band count (8), different num_hashes: caught.
    assert dedup.derive_banding(32, 0.8)[0] == 8
    assert dedup.derive_banding(64, 0.8)[0] == 8
    s_old_32 = dedup.minhash_store(
        old, "doc_id", "text", shingle_n=2, num_hashes=32
    )
    with _pytest.raises(dedup.StoreBandingMismatch, match="num_hashes=32"):
        dedup.assert_compatible_stores(s_new, s_old_32)

    # Same banding, different shingle_n: caught (the verify sets would
    # be built over different-grain shingles).
    s_old_n3 = dedup.minhash_store(old, "doc_id", "text", shingle_n=3)
    with _pytest.raises(dedup.StoreBandingMismatch, match="shingle_n=3"):
        dedup.assert_compatible_stores(s_new, s_old_n3)

    # LEGACY store (pre-metadata format, i.e. also pre-seeding): the
    # missing columns are the format-version marker — rejected even
    # though its band count matches.
    s_old = dedup.minhash_store(old, "doc_id", "text", shingle_n=2)
    legacy = (s_old[0].drop("num_hashes", "shingle_n"), s_old[1])
    with _pytest.raises(dedup.StoreBandingMismatch, match="legacy|predates"):
        dedup.assert_compatible_stores(s_new, legacy)

    # MIXED store (two geometries appended into one path): corrupt.
    mixed = (s_old[0].unionByName(s_old_32[0]), s_old[1])
    with _pytest.raises(dedup.StoreBandingMismatch, match="mixes"):
        dedup.assert_compatible_stores(s_new, mixed)

    # The metadata columns are constant + correct on a good store.
    row = s_new[0].select("num_hashes", "shingle_n").distinct().collect()
    assert [(r["num_hashes"], r["shingle_n"]) for r in row] == [(64, 2)]


def test_stamp_store_geometry_migration(spark):
    """r16 (ADVICE): stamp_store_geometry upgrades an r14-era store
    (geometry-seeded hashes, no metadata columns) in place of a full
    corpus rebuild. The stamped store must pass the compatibility
    gate and give BYTE-IDENTICAL incremental results to the
    never-migrated store; wrong attestations the rows can falsify are
    rejected, as is re-stamping."""
    import pytest as _pytest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    s_new = dedup.minhash_store(new, "doc_id", "text", shingle_n=2)
    s_old = dedup.minhash_store(old, "doc_id", "text", shingle_n=2)

    # Simulate the r14-era persisted format: metadata columns absent.
    legacy_bands = s_old[0].drop("num_hashes", "shingle_n")
    with _pytest.raises(dedup.StoreBandingMismatch, match="predates"):
        dedup.assert_compatible_stores(s_new, (legacy_bands, s_old[1]))

    # Attested migration: gate passes, results byte-identical.
    stamped = dedup.stamp_store_geometry(
        legacy_bands, num_hashes=64, shingle_n=2
    )
    dedup.assert_compatible_stores(s_new, (stamped, s_old[1]))
    want = sorted(
        tuple(r)
        for r in dedup.incremental_near_dups(s_new, s_old).collect()
    )
    got = sorted(
        tuple(r)
        for r in dedup.incremental_near_dups(
            s_new, (stamped, s_old[1])
        ).collect()
    )
    assert got == want and len(want) > 0

    # Falsifiable-wrong attestation: more bands than signature hashes.
    with _pytest.raises(dedup.StoreBandingMismatch, match="wider"):
        dedup.stamp_store_geometry(legacy_bands, num_hashes=4, shingle_n=2)

    # Re-stamping a stamped store: refused (mixed-store hazard).
    with _pytest.raises(dedup.StoreBandingMismatch, match="already"):
        dedup.stamp_store_geometry(stamped, num_hashes=64, shingle_n=2)

    with _pytest.raises(ValueError, match="positive"):
        dedup.stamp_store_geometry(legacy_bands, num_hashes=0, shingle_n=2)

    # Empty legacy store: stampable (no rows to falsify against).
    empty = dedup.stamp_store_geometry(
        legacy_bands.limit(0), num_hashes=64, shingle_n=2
    )
    assert empty.columns == stamped.columns and empty.count() == 0
