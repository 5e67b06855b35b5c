"""End-to-end corpus curation plan: funnel semantics on real documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_data_pipeline_optimization_spark.operators import dedup, joins
from financial_data_pipeline_optimization_spark.plans.corpus import (
    curate_corpus,
    funnel_counts,
)
from financial_data_pipeline_optimization_spark.sources import load_table

from .conftest import SF_SMOKE


def test_curate_corpus_annotations_and_monotonicity(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = curate_corpus(docs, languages=("en", "und"), min_tokens=5)
    rows = out.collect()
    assert 0 < len(rows) <= docs.count()
    assert {"doc_id", "text", "lang_pred", "n_bpe_ish_tokens", "split"} <= set(
        out.columns
    )
    assert all(r.split in ("train", "val", "test") for r in rows)
    assert all(r.n_bpe_ish_tokens > 0 for r in rows)
    # dedup means ids are unique
    assert len({r.doc_id for r in rows}) == len(rows)


def test_curate_corpus_idempotent(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    once = curate_corpus(docs, languages=("en", "und"), min_tokens=5)
    twice = curate_corpus(
        once.select("doc_id", "text"), languages=("en", "und"), min_tokens=5
    )
    assert sorted(r.doc_id for r in twice.collect()) == sorted(
        r.doc_id for r in once.collect()
    )


def test_funnel_counts_monotone_decreasing(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    c = funnel_counts(docs, languages=("en", "und"), min_tokens=5)
    order = [
        "input",
        "lang_filtered",
        "quality_filtered",
        "exact_deduped",
        "near_deduped",
    ]
    vals = [c[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    assert vals[-1] > 0


def _chain_corpus(spark, ids):
    """Six documents under the given ids: A~B and B~C are near
    duplicates (bigram Jaccard 0.82) while A~C is not (0.67), D~E are
    near duplicates, F is unique."""
    words = [f"word{i:02d}" for i in range(60)]

    def doc(start, n=41):
        return " ".join(words[start:start + n]) + "."

    texts = [
        doc(0), doc(4), doc(8),
        " ".join(reversed(words[:30])) + ".",
        " ".join(reversed(words[1:31])) + ".",
        " ".join(words[::2]) + ".",
    ]
    return spark.createDataFrame(
        list(zip(ids, texts)), "doc_id long, text string"
    )


@pytest.mark.parametrize(
    "ids", [[11, 22, 33, 44, 55, 66], [66, 33, 11, 55, 44, 22]]
)
def test_curate_corpus_drops_exactly_the_cluster_members(spark, ids):
    """The anti-join on near_dup_members keeps exactly the
    ``cluster_id == doc_id`` rows of near_dup_clusters: the A~B~C chain
    collapses to its minimum id although A~C is no pair, under two
    ``doc_id`` relabellings (which change the surviving id)."""
    docs = _chain_corpus(spark, ids)
    a, b, c = ids[:3]
    pairs = {
        (r.a, r.b)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, min_jaccard=0.8
        ).collect()
    }
    assert (min(a, c), max(a, c)) not in pairs
    assert {(min(a, b), max(a, b)), (min(b, c), max(b, c))} <= pairs

    labels = dedup.near_dup_clusters(
        docs, "doc_id", "text", n=2, min_jaccard=0.8
    )
    want = {
        r.doc_id
        for r in labels.where(F.col("doc_id") == F.col("cluster_id"))
        .collect()
    }
    got = [
        r.doc_id
        for r in curate_corpus(
            docs, languages=("en", "und"), min_tokens=5
        ).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want
    assert want == {min(a, b, c), min(ids[3], ids[4]), ids[5]}


def test_near_dedup_anti_join_broadcast_gate(spark, monkeypatch):
    """The members ship as a broadcast while their count (the star
    forest's ``fixpoint_edges``) fits COUNT_BROADCAST_MAX_ROWS; with
    the budget below the member count the anti-join loses the hint and
    the survivors are identical."""
    docs = _chain_corpus(spark, [11, 22, 33, 44, 55, 66])
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}

    def anti_join_nodes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [ln for ln in plan.splitlines() if "LeftAnti" in ln]

    def curate():
        return curate_corpus(docs, languages=("en", "und"), min_tokens=5)

    try:
        # Off: at this size the optimizer would broadcast without the
        # hint and mask what is pinned here.
        for k in keys:
            spark.conf.set(k, "-1")
        hinted = curate()
        assert all(
            "BroadcastHashJoin" in ln for ln in anti_join_nodes(hinted)
        ) and anti_join_nodes(hinted)
        survivors = sorted(r.doc_id for r in hinted.collect())

        monkeypatch.setattr(joins, "COUNT_BROADCAST_MAX_ROWS", 1)
        shuffled = curate()
        nodes = anti_join_nodes(shuffled)
        assert nodes and not any("BroadcastHashJoin" in ln for ln in nodes)
        assert sorted(r.doc_id for r in shuffled.collect()) == survivors
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_ingest_partitions_the_new_batch(spark):
    """accepted + exact-rejected + near-rejected exactly partition the
    new batch (each rejection counted at its first stage), and the
    report's arithmetic invariant holds."""
    from financial_data_pipeline_optimization_spark.plans.corpus import (
        incremental_ingest,
    )
    from .conftest import SF_CORRECTNESS

    docs = load_table(spark, SF_CORRECTNESS, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    accepted, report = incremental_ingest(old, new, pair_source="exact")
    r = report.collect()[0]
    assert r.n_new == r.n_exact_dup + r.n_near_dup + r.n_accepted
    assert r.n_near_dup > 0, "planted cross-batch near-dups must be caught"
    got = accepted.count()
    assert got == r.n_accepted
    assert accepted.join(new, "doc_id", "left_anti").count() == 0
    assert sorted(accepted.columns) == sorted(new.columns)


def test_incremental_ingest_lsh_is_verified_subset(spark):
    """The LSH store path may only reject documents the exact path
    rejects (verified pairs are a subset of exact pairs), so
    accepted_exact ⊆ accepted_lsh and both satisfy the same report
    arithmetic."""
    from financial_data_pipeline_optimization_spark.plans.corpus import (
        incremental_ingest,
    )
    from .conftest import SF_CORRECTNESS

    docs = load_table(spark, SF_CORRECTNESS, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    acc_exact, _ = incremental_ingest(old, new, pair_source="exact")
    acc_lsh, rep_lsh = incremental_ingest(old, new, pair_source="lsh")
    exact_ids = {r.doc_id for r in acc_exact.collect()}
    lsh_ids = {r.doc_id for r in acc_lsh.collect()}
    assert exact_ids <= lsh_ids
    r = rep_lsh.collect()[0]
    assert r.n_new == r.n_exact_dup + r.n_near_dup + r.n_accepted


def test_multimodal_funnel_cross_modal_dedup(spark):
    """The property three per-modality dedups can't give: two documents
    whose TEXTS are unrelated but whose IMAGES are pixel-identical must
    land in one cluster (and symmetric for audio), because all
    modalities' edges union into ONE connected-components pass. Also
    pins the stage-count arithmetic of the report row."""
    from financial_data_pipeline_optimization_spark.operators import multimodal
    from financial_data_pipeline_optimization_spark.plans.corpus import (
        multimodal_funnel_counts_df,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps in the sun for a long time with a friend of the house "
    )
    alt = (
        "a completely different story about ships and the open sea "
        "where the sailors sing to the wind and the stars at night is "
        "told in the harbor by the old captain to anyone who listens "
    )
    alt2 = (
        "meanwhile in the mountains the goats climb on the rocks and "
        "the river runs cold past the village where the baker makes "
        "bread each morning for the children on the way to the school "
    )
    alt3 = (
        "deep under the city the trains hum through the tunnels while "
        "the clocks on every platform count the quiet minutes between "
        "arrivals and the lost gloves wait in a box by the ticket gate "
    )
    rows = [
        (0, base + "alpha"),
        (1, alt + "beta"),   # text-unrelated to 0; image twin of 0
        (2, alt2 + "gamma"),  # audio twin of 0, text-unrelated to both
        (3, base + "alpha"),  # exact text dup of 0 -> exact stage
        (4, alt3 + "delta"),  # VIDEO twin of 0 — its only edge
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # images: docs 0 and 1 share payload src 100; 2 gets its own (200)
    img_src = docs.select(
        "doc_id",
        F.when(F.col("doc_id").isin(0, 1), F.lit(100))
        .otherwise(F.col("doc_id") + 200)
        .alias("src"),
    )
    imgs = img_src.join(
        multimodal.synthetic_bmp_assets(
            img_src.select("src").distinct(), "src"
        ).withColumnRenamed("asset_id", "src"),
        "src",
    ).select("doc_id", "payload")
    # audio: docs 0 and 2 share payload src 7; 1 gets its own (300)
    wav_src = docs.select(
        "doc_id",
        F.when(F.col("doc_id").isin(0, 2), F.lit(7))
        .otherwise(F.col("doc_id") + 300)
        .alias("src"),
    )
    wavs = wav_src.join(
        multimodal.synthetic_wav_assets(
            wav_src.select("src").distinct(), "src"
        ).withColumnRenamed("asset_id", "src"),
        "src",
    ).select("doc_id", "payload")
    # videos: docs 0 and 4 share container src 9 — the ONLY edge
    # reaching doc 4 (its text/image/audio are all unique), so doc 4
    # deduping proves the video frame-dHash leg carries edges.
    vid_src = docs.select(
        "doc_id",
        F.when(F.col("doc_id").isin(0, 4), F.lit(9))
        .otherwise(F.col("doc_id") + 400)
        .alias("src"),
    )
    vids = vid_src.join(
        multimodal.synthetic_video_assets(
            vid_src.select("src").distinct(), "src"
        ).withColumnRenamed("asset_id", "src"),
        "src",
    ).select("doc_id", "payload")

    row = multimodal_funnel_counts_df(
        docs,
        images=imgs,
        audio=wavs,
        videos=vids,
        min_tokens=10,
        max_hamming=0,
    ).collect()[0]
    assert row.n_input == 5
    assert row.n_exact_deduped == 4  # doc 3 is an exact text dup of 0
    # 0-1 joined by the image edge, 0-2 by the audio edge, 0-4 by the
    # video edge, despite unrelated text -> one component {0, 1, 2, 4},
    # survivor = min id.
    assert row.n_image_pairs >= 1
    assert row.n_audio_pairs >= 1
    assert row.n_video_pairs >= 1
    assert row.n_multimodal_deduped == 1
    # dropping the payload modalities keeps the text-only funnel: the
    # four remaining docs have unrelated texts, so all survive.
    row_t = multimodal_funnel_counts_df(docs, min_tokens=10).collect()[0]
    assert row_t.n_image_pairs == 0 and row_t.n_audio_pairs == 0
    assert row_t.n_video_pairs == 0
    assert row_t.n_multimodal_deduped == 4


def test_multimodal_funnel_lsh_path_is_verified_subset(spark):
    """The 100 TB text-pair path: minhash_lsh_pairs verifies its
    banding candidates with exact Jaccard, so its pair set is a SUBSET
    of the exact path's — fewer (or equal) edges can only merge fewer
    nodes, so the LSH funnel keeps at least as many survivors, and the
    payload-modality pair counts are identical (they don't depend on
    the text pair source)."""
    from financial_data_pipeline_optimization_spark.plans.corpus import (
        multimodal_funnel_counts_df,
    )
    from .conftest import SF_SMOKE as _SF

    docs = (
        load_table(spark, _SF, "documents")
        .select("doc_id", "text")
        .limit(200)
    )
    exact = multimodal_funnel_counts_df(
        docs, text_pair_source="exact"
    ).collect()[0]
    lsh = multimodal_funnel_counts_df(
        docs, text_pair_source="lsh"
    ).collect()[0]
    assert lsh.n_text_pairs <= exact.n_text_pairs
    assert lsh.n_multimodal_deduped >= exact.n_multimodal_deduped
    assert lsh.n_image_pairs == exact.n_image_pairs == 0  # no payloads
    assert lsh.n_exact_deduped == exact.n_exact_deduped
