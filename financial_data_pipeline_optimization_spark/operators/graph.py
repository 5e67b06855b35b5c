"""Distributed connected components (transitive dedup clusters).

Near-duplicate detection (``operators.dedup``) emits PAIRS; corpus
dedup needs CLUSTERS — if A~B and B~C, one representative should
survive for {A, B, C} even when A~C was never emitted. That is
connected components over the similarity graph.

Implementation: alternating **large-star / small-star** (Kiveris et
al., "Connected components in MapReduce and beyond", SoCC 2014) — the
algorithm built for exactly this dataflow setting. Each round rewires
the edge set toward stars centered at the component minimum:

- ``large-star``: every node ``u`` connects its strictly-larger
  neighbors to ``min(N(u) ∪ {u})``;
- ``small-star``: with edges oriented large→small, every node ``u``
  connects its (smaller-or-equal) neighbors and itself to the minimum.

Both operations preserve connectivity, never grow the edge count, and
compose to give O(log n) rounds on ANY graph — a path of length ``n``
converges in ~log₂(n) rounds where plain min-label propagation needs
``n`` (the minimum label crawls one hop per round). This replaced a
propagation loop whose per-round cost was a full-edge-list join
against a full label table; here each round touches only the current
(shrinking, star-ward) edge set.

Scale mechanics this encodes:

- each star operation is one aggregation + one join, both shuffling on
  the node key, and both on the SAME key so AQE/exchange-reuse can
  collapse them;
- ``localCheckpoint`` after every round TRUNCATES LINEAGE: without it,
  iteration k's plan contains k nested joins and the driver's
  optimizer/DAG work grows quadratically (the classic iterative-
  algorithm failure mode). ``localCheckpoint(eager=False)`` is not
  free at construction: under AQE the call runs every upstream
  shuffle stage of the checkpointed plan while the DataFrame is
  being built (on the curation funnel each round's checkpoint issues
  6 jobs and the canonical-edge checkpoint 3);
- convergence is one bounded action per round, and it is DIRECT: the
  fixpoint of large∘small is exactly a star forest pointing at
  component minima, so the loop probes "no source repeats AND no dest
  is also a source" (one keyed agg + one semi-join, both on the same
  ``s`` key the stars already shuffle on) instead of comparing edge
  fingerprints across rounds. A fingerprint compare needs one EXTRA
  full star round just to observe that nothing changed; the structural
  probe fires on the converged set itself — for the quasi-clique
  graphs near-dup detection emits (diameter ~1, one round to
  converge) that halves the round count;
- at the fixpoint the edge set IS the answer: :func:`component_stars`
  returns it as ``(member, root)`` edges, one per non-root node. No
  label table is ever maintained; consumers that only need to know
  which nodes are NOT their component's minimum (near-dedup drops
  exactly those) read the members directly, and
  :func:`connected_components` derives per-node labels from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(sym: DataFrame) -> DataFrame:
    """Large-star on a SYMMETRIC edge set ``(s, d)``: emit
    ``(v, min(N(u) ∪ {u}))`` for every neighbor ``v > u``."""
    nbr = sym.groupBy("s").agg(F.min("d").alias("__mn"))
    return (
        sym.join(nbr, "s")
        .where(F.col("d") > F.col("s"))
        .select(
            F.col("d").alias("s"),
            F.least(F.col("__mn"), F.col("s")).alias("d"),
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star on a directed edge set: orient large→small, then
    connect every node of each neighborhood (and the center) to the
    neighborhood minimum."""
    o = (
        edges.select(
            F.greatest("s", "d").alias("s"), F.least("s", "d").alias("d")
        )
        .where(F.col("s") != F.col("d"))
    )
    nbr = o.groupBy("s").agg(F.min("d").alias("__mn"))
    rewired = (
        o.join(nbr, "s")
        .where(F.col("d") != F.col("__mn"))
        .select(F.col("d").alias("s"), F.col("__mn").alias("d"))
    )
    centers = nbr.select(F.col("s"), F.col("__mn").alias("d"))
    return rewired.union(centers)


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The distinct ``(s, d)`` edge set, checkpointed once: the star
    loop and :func:`connected_components`' node set both read it, so
    the (possibly expensive) upstream pair-generation plan runs once."""
    return (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _star_forest(base: DataFrame, max_iter: int, stats: dict | None):
    """Run large∘small rounds over the canonical edges ``base`` until
    the edge set is a star forest; returns its ``(s, d)`` edges."""
    e = base.where(F.col("s") != F.col("d"))
    for rounds in range(1, max_iter + 1):
        sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        e = (
            _small_star(_large_star(sym))
            .distinct()
            .localCheckpoint(eager=False)  # truncate per-round lineage
        )
        if stats is not None and stats.get("count_rounds", True):
            stats.setdefault("edges_per_round", []).append(e.count())
        # Convergence probe, one action: every round's output is a set
        # of (member > center) edges, and it is THE fixpoint star
        # forest iff no member repeats (each node points at one center)
        # and no center is itself a member of another star (no chains).
        # Both probes key on ``s`` — the same key the star rounds
        # shuffle on — and short-circuit via isEmpty's LIMIT-1.
        dup_src = (
            e.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > 1)
        )
        chained = e.select(F.col("d").alias("s")).join(
            e.select("s"), "s", "left_semi"
        )
        violations = dup_src.select(F.lit(1).alias("v")).unionAll(
            chained.select(F.lit(1).alias("v"))
        )
        if violations.isEmpty():
            if stats is not None:
                # Cheap by construction: the isEmpty probe just
                # materialized e's checkpoint, so this counts cached
                # blocks (reused from edges_per_round when present).
                per_round = stats.get("edges_per_round")
                stats["rounds"] = rounds
                stats["fixpoint_edges"] = (
                    per_round[-1] if per_round else e.count()
                )
            return e
    raise RuntimeError(
        f"connected components did not converge in {max_iter} rounds"
    )


def component_stars(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """The converged star forest of the undirected graph ``edges``:
    ``(member, root)`` edges where ``root`` is the minimum node id of
    ``member``'s connected component. Every node that is not its
    component's minimum appears exactly once as a ``member``, always
    ``member > root``; component minima and nodes whose only edges are
    self-loops appear as no ``member``. Duplicate edges and self-loops
    in the input are harmless.

    Raises if the loop hits ``max_iter`` without converging. O(log n)
    rounds even on path graphs, and convergence is observed ON the
    converged round (structural star-forest probe, not a cross-round
    fingerprint compare) — so a non-convergence here means the input
    is pathological, not that more iterations would help. The returned
    frame is the last round's checkpoint, already computed by the
    convergence probe.

    ``stats``: optional dict; on return ``stats["rounds"]`` holds the
    number of large∘small rounds executed (used by the round-count
    regression test pinning the O(log n) behavior),
    ``stats["fixpoint_edges"]`` the number of star edges — which is
    exactly the number of members, counted over the already-computed
    checkpoint blocks — and ``stats["edges_per_round"]`` the star-edge
    count after each round. The Kiveris invariant says the last never
    grows, which is what makes a planted mega-cluster (one hot LSH
    bucket = one huge clique) safe: the first large-star absorbs it
    into one star instead of exploding it. The per-round counts cost
    one extra action per round, so they are only computed when a
    ``stats`` dict is passed, and ``stats["count_rounds"] = False``
    suppresses them for callers that want only ``rounds`` and
    ``fixpoint_edges``. Production callers that need neither pass
    ``None`` and pay nothing.
    """
    e = _star_forest(_canonical_edges(edges, src, dst), max_iter, stats)
    return e.select(F.col("s").alias("member"), F.col("d").alias("root"))


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    out_node: str = "node",
    out_label: str = "component",
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    minimum node id of its connected component: ``(node, component)``
    for every node that appears in an edge, built as the node set left
    joined to :func:`component_stars` (nodes that are no star's member
    label themselves). Same loop, convergence contract and ``stats``
    as :func:`component_stars`."""
    base = _canonical_edges(edges, src, dst)
    nodes = (
        base.select(F.col("s").alias("n"))
        .union(base.select(F.col("d").alias("n")))
        .distinct()
    )
    star = _star_forest(base, max_iter, stats)
    return nodes.join(star, nodes["n"] == star["s"], "left").select(
        F.col("n").alias(out_node),
        F.coalesce(F.col("d"), F.col("n")).alias(out_label),
    )


def pagerank_on(
    edges: DataFrame,
    iters: int = 3,
    reset: float = 0.15,
    src: str = "src",
    dst: str = "dst",
    checkpoint_edges: bool = True,
    checkpoint_ranks: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge relation with columns
    ``(src, dst)``. Assumes every node has at least one out-edge and
    appears as a destination (guaranteed for symmetric edge sets — the
    near-dup / co-occurrence graphs this engine builds); general
    directed graphs additionally need dangling-mass redistribution.

    Layout-aware iteration — the 100 TB design point this function
    exists to encode: per iteration the rank recurrence is one join
    (edges ⋈ ranks on ``src``) and one aggregation (messages by
    ``dst``). The join's EDGE side is the scale-killer — re-shuffling
    the full edge relation every round. Feed this function a table
    **bucketed by** ``src`` (``sources.bucketing.write_bucketed_table``)
    with ``checkpoint_edges=False`` and the edge side of every
    iteration's join reads pre-partitioned files with NO Exchange:
    only the node-sized rank table moves, plus the map-side-combined
    message aggregate. ``checkpoint_edges=False`` matters because
    ``localCheckpoint`` erases the catalog's bucketing metadata — the
    cache would win back scan cost and lose the exchange elimination.

    For a plain (unbucketed) DataFrame keep ``checkpoint_edges=True``:
    the graph-build plan then runs once instead of once per iteration.

    ``checkpoint_ranks=False`` keeps the whole iteration chain in one
    inspectable lazy plan (plan-shape tests); leave it True for real
    runs — without the per-round truncation the plan nests one join
    per iteration and driver-side planning grows superlinearly.
    """
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    edges_w = edges.join(deg, src)
    if checkpoint_edges:
        edges_w = edges_w.localCheckpoint(eager=False)
    nstats = deg.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    ranks = deg.crossJoin(F.broadcast(nstats)).select(
        F.col(src).alias("__node"),
        (F.lit(1.0) / F.col("__n")).alias("__rank"),
    )
    for _ in range(iters):
        ranks = (
            edges_w.join(
                ranks.withColumnRenamed("__node", src), src
            )
            .groupBy(dst)
            .agg(F.sum(F.col("__rank") / F.col("__deg")).alias("__m"))
            .crossJoin(F.broadcast(nstats))
            .select(
                F.col(dst).alias("__node"),
                (
                    F.lit(reset) / F.col("__n")
                    + F.lit(1.0 - reset) * F.col("__m")
                ).alias("__rank"),
            )
        )
        if checkpoint_ranks:
            # rank lineage truncation, node-sized
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        F.col("__node").alias("node"), F.col("__rank").alias("rank")
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    broadcast_keeps: bool = False,
    checkpoint_rounds: bool = True,
    broadcast_max_nodes: int = 20_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Fixed-round k-core peeling over a SYMMETRIC edge relation:
    each round computes out-degrees (= total degrees when both edge
    directions are present) and drops every node with degree < ``k``
    together with its incident edges. After enough rounds the fixpoint
    is the k-core — the standard spam-farm / low-engagement-node
    scrub of web-graph pipelines (a page kept alive only by a handful
    of mutually-linking pages peels away; densely-embedded pages
    survive).

    Fixed ``rounds`` (not run-to-fixpoint) keeps the whole computation
    ONE lazy plan with a statically-known shape — no per-round driver
    actions at all, unlike ``connected_components``' convergence
    probe; callers needing the exact core iterate until the count is
    stable. Each round is one degree aggregation plus two semi-joins
    (src side, dst side), all shuffling on the node key; the edge set
    only SHRINKS, so per-round cost decays. ``localCheckpoint``
    truncates lineage between rounds.

    Returns surviving ``(node, degree)`` — degrees as of the LAST
    peel, i.e. within the (rounds−1)-peeled graph; a converged run
    has all degrees ≥ k.

    ``broadcast_keeps`` + ``checkpoint_rounds=False`` is the
    LAYOUT-AWARE mode for a src-BUCKETED edge table (the same
    discipline as ``pagerank_on(checkpoint_edges=False)``, and the
    same shared ``pr_edges_by_src`` table serves both): the keep list
    is node-sized (degrees ≥ k survivors), so broadcasting it makes
    both per-round semi-joins broadcast joins — the streamed edge side
    keeps the bucketed scan's hash distribution through every round,
    and every round's degree aggregation runs WITHOUT an exchange.
    The edge relation (the 100 TB side) then never shuffles at all;
    only node-sized keep lists move. ``checkpoint_rounds=False`` keeps
    the whole peel one lazy plan (a localCheckpoint would erase the
    scan's bucketing from the plan); with only ``rounds`` levels of
    lineage and no driver actions, truncation buys nothing here.
    Exchange elimination + value equality are pinned in
    ``tests/test_bucketing.py``.

    ``broadcast_max_nodes`` SIZE-GATES the broadcast mode: "the keep
    list is node-sized" is an argument about the GRAPH, not a bound —
    at web-graph scale (10⁹⁺ nodes) a keep list of longs is 8+ GB raw
    and several times that as a broadcast hash relation, past Spark's
    8 GB broadcast-table hard limit and enough to OOM the driver that
    must hold it while shipping. When ``broadcast_keeps=True`` the
    peel first counts the round-0 survivors (one node-sized
    aggregation — on a src-bucketed table it is exchange-free, and
    the keep list only SHRINKS with later rounds, so round 0 bounds
    them all) and silently falls back to the default shuffle
    semi-joins when the count exceeds the budget. The default 20 M
    survivors ≈ 160 MB of raw keys ≈ 1–2 GB as an executor-resident
    broadcast hash relation — comfortably under the 8 GB limit while
    still covering any graph whose node set plausibly fits a single
    executor's memory; raise it only with driver/executor heaps sized
    to match. The gate's survivor count REUSES round 0's degree
    aggregation: the node-sized degree table is lazily checkpointed,
    the count action materializes it, and round 0's keep filter (and a
    1-round peel's returned degrees) read it back — the edges scan+agg
    runs once, not twice, and the EDGE relation itself is never
    checkpointed, so a bucketed scan keeps its distribution. The
    fallback path is pinned by ``tests/test_graph.py``
    (over-threshold graph loses its broadcast hints, values
    identical).

    ``stats``: optional dict; on return ``stats["peel_mode"]`` records
    the mode actually chosen — ``"broadcast"``, ``"shuffle-fallback"``
    (broadcast requested, size gate tripped) or ``"shuffle"`` — and,
    when the gate ran, ``stats["round0_survivors"]`` its measured
    count, so operators can see WHICH plan a production run took
    without re-deriving the gate arithmetic.
    """
    e = edges.select(src, dst)
    deg0 = None
    if broadcast_keeps:
        deg0 = (
            e.groupBy(src)
            .agg(F.count(F.lit(1)).alias("__deg"))
            .localCheckpoint(eager=False)
        )
        survivors = deg0.filter(F.col("__deg") >= F.lit(k)).count()
        if survivors > broadcast_max_nodes:
            broadcast_keeps = False
        if stats is not None:
            stats["round0_survivors"] = survivors
            stats["peel_mode"] = (
                "broadcast" if broadcast_keeps else "shuffle-fallback"
            )
    elif stats is not None:
        stats["peel_mode"] = "shuffle"
    for r in range(max(1, rounds)):
        deg = (
            deg0
            if r == 0 and deg0 is not None
            else e.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
        )
        keep = deg.filter(F.col("__deg") >= k).select(src)
        keep_dst = keep.withColumnRenamed(src, dst)
        if broadcast_keeps:
            keep, keep_dst = F.broadcast(keep), F.broadcast(keep_dst)
        if r == rounds - 1:
            return deg.join(keep, src, "left_semi").select(
                F.col(src).alias("node"),
                F.col("__deg").cast("long").alias("degree"),
            )
        e = e.join(keep, src, "left_semi").join(
            keep_dst, dst, "left_semi"
        )
        if checkpoint_rounds:
            e = e.localCheckpoint(eager=False)
