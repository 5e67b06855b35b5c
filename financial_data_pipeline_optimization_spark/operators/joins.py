"""Join operators (SURVEY.md §2.6) plus the join suite the reference lacks.

Reference surface: J1, the anti-join upsert — the only join in the
system, and it runs *inside PostgreSQL* as ``NOT EXISTS``
(``loading.py:159-169``); and J2, the ticker→company dict lookup
(``extraction.py:85-94``), which is a broadcast join against a bounded
dim. The engine internalizes J1 (Spark left-anti, Catalyst picks
broadcast/SMJ) and generalizes J2.

Engine additions (SURVEY.md §7.3): as-of join and range join — Spark has
no native primitives for either, so they are expressed as compositions
(union + window for as-of; bucketized equi-join for range) that keep the
work distributed and bounded.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def anti_join_upsert(
    target: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J1: append-only upsert — rows of ``new`` whose key is absent from
    ``target``, unioned onto ``target`` (the reference's staging-table
    ``NOT EXISTS`` insert, ``loading.py:159-178``, without the staging
    table or the second DB round-trip).

    Catalyst plans the anti join as broadcast when ``new``'s key set is
    small; at warehouse scale this is the MERGE-on-key pattern and the
    target side only needs its key columns scanned (column pruning).
    """
    fresh = new.join(target.select(*keys), on=list(keys), how="left_anti")
    return target.unionByName(fresh)


def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "left",
) -> DataFrame:
    """J2/F6: enrich a fact table from a bounded dimension via an
    explicit broadcast join (the reference's in-driver dict ``.map``;
    null for unmatched keys reproduces its NaN semantics)."""
    on_expr = list(on) if isinstance(on, Sequence) and not isinstance(on, str) else on
    return fact.join(F.broadcast(dim), on=on_expr, how=how)


#: Default `broadcast_if_small` budget for hashed count relations
#: (16-byte rows): 8M rows ≈ 128 MB raw ≈ ~1 GB as an
#: executor-resident broadcast hash relation — comfortably under
#: Spark's 8 GB broadcast-table hard limit while covering any
#: vocabulary that plausibly fits executor memory (measured r15:
#: the Heaps-law 500k-doc corpus holds 267k types; the replicated
#: corpus 3,100 — both orders of magnitude under budget).
COUNT_BROADCAST_MAX_ROWS = 8_000_000


def broadcast_if_small(
    df: DataFrame,
    max_rows: int,
    stats: dict | None = None,
    label: str = "relation",
    rows: int | None = None,
) -> DataFrame:
    """SIZE-GATED broadcast hint (the ``kcore_peel`` gate discipline
    applied to join relations): count ``df`` once and return
    ``F.broadcast(df)`` when it holds at most ``max_rows`` rows, else
    ``df`` unchanged so Catalyst/AQE keep the shuffle join.

    Exists for DERIVED relations whose size the optimizer cannot know
    (a self-trained vocabulary count table, a survivor keep-list):
    their checkpointed stats are conservative, so AQE never upgrades
    the join, while force-broadcasting unconditionally is the
    default-that-dies-at-scale — a multi-GB relation past Spark's
    8 GB broadcast limit OOMs the driver that must hold it. The count
    is one action over a relation the caller materializes anyway
    (callers pass the already-lazily-checkpointed frame, so the count
    just materializes it earlier).

    EAGER AT CONSTRUCTION TIME: the count() runs when the enclosing
    DataFrame is BUILT, not when it is acted on — the query-builder
    laziness contract changes for every caller. Queries wiring this
    gate must say so in their registry doc ("NOT action-free at
    construction", the connected-components convention) so plan-only
    consumers (explain audits, speculative construction) know to skip
    them. A fully lazy alternative does not exist in Spark today: a
    broadcast hint must be present in the plan BEFORE the action, and
    AQE — the runtime mechanism that could decide lazily — never
    upgrades these joins because checkpointed stats are conservative
    (measured r12/r13/r15, see the callers' docs).

    ``stats``: on return ``stats[f"{label}_rows"]`` holds the measured
    count and ``stats[f"{label}_join"]`` the chosen mode
    (``"broadcast"`` / ``"shuffle-fallback"``) — the same observability
    hook as ``kcore_peel``'s ``peel_mode``.

    ``rows``: the row count when the caller already knows it exactly
    (e.g. ``graph.component_stars``' ``fixpoint_edges``); no count job
    runs then."""
    n = df.count() if rows is None else rows
    small = n <= max_rows
    if stats is not None:
        stats[f"{label}_rows"] = n
        stats[f"{label}_join"] = (
            "broadcast" if small else "shuffle-fallback"
        )
    return F.broadcast(df) if small else df


def _as_instant(df: DataFrame, col: str) -> DataFrame:
    """Normalize an event-time column to instant-typed ``timestamp``.

    The time-based joins below do epoch arithmetic (``unix_micros``),
    which rejects TIMESTAMP_NTZ (what tz-naive parquet — pandas'
    default — loads as) and DATE. Under a UTC session the cast is
    value-preserving, so both become first-class inputs instead of
    analysis errors. Any other type (numeric epoch columns included)
    raises with a clear message — silently guessing the unit of a
    bigint "timestamp" would corrupt results.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"column {col!r} not found in frame")
    if dtype in ("timestamp_ntz", "date"):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dtype != "timestamp":
        raise TypeError(
            f"time column {col!r} has type {dtype}; expected timestamp, "
            "timestamp_ntz, or date. For numeric epoch columns, convert "
            "explicitly first (e.g. F.timestamp_micros / "
            "F.timestamp_seconds) so the unit is unambiguous."
        )
    return df


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the single right row with the
    greatest ``right_ts`` <= ``left_ts`` (direction='backward'; 'forward'
    = least ``right_ts`` >= ``left_ts``; 'nearest' = whichever of the
    two is closer in time, ties to backward) within the same ``on``
    keys. ``tolerance`` ('N unit', e.g. '30 minutes') discards matches
    farther than that from the left timestamp — the pandas
    ``merge_asof(tolerance=...)`` contract — leaving nulls (left-join
    semantics).

    Implementation is the union-tag-window composition (no per-group
    pandas, no cross product): tag both sides, union by key, sort within
    key by time, carry the last-seen right row forward with
    ``last(ignorenulls)`` over an unbounded-preceding window, keep left
    rows. One shuffle on ``on`` — the same exchange a plain equi-join
    would need, so it scales like a sort-merge join ('nearest' adds a
    second sort over the same exchange, still no extra shuffle).

    Right columns (except keys/ts) are struct-packed and re-expanded;
    name collisions with left are suffixed ``_right``.
    """
    left = _as_instant(left, left_ts)
    right = _as_instant(right, right_ts)
    keys = list(on)
    rcols = [c for c in right.columns if c not in keys and c != right_ts]
    packed = right.select(
        *keys,
        F.col(right_ts).alias("__t"),
        F.struct(
            F.col(right_ts).alias(right_ts),
            *[F.col(c) for c in rcols],
        ).alias("__r"),
    ).withColumn("__side", F.lit(1))
    lhs = left.withColumn("__t", F.col(left_ts)).withColumn(
        "__side", F.lit(0)
    ).withColumn("__r", F.lit(None).cast(packed.schema["__r"].dataType))
    unioned = lhs.select(
        *left.columns, "__t", "__side", "__r"
    ).unionByName(
        packed.select(
            *keys,
            *[F.lit(None).cast(left.schema[c].dataType).alias(c)
              for c in left.columns if c not in keys],
            "__t",
            "__side",
            "__r",
        )
    )
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").asc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").desc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tol_us = _interval_micros(tolerance) if tolerance is not None else None

    def bounded(cand: Column) -> Column:
        # Tolerance gate: null out a candidate farther than tol from the
        # left timestamp (abs covers both directions).
        if tol_us is None:
            return cand
        gap = F.abs(
            F.unix_micros(F.col("__t")) - F.unix_micros(cand[right_ts])
        )
        return F.when(gap <= F.lit(tol_us), cand)

    if direction == "backward":
        carried = bounded(F.last("__r", ignorenulls=True).over(w_back))
    elif direction == "forward":
        carried = bounded(F.last("__r", ignorenulls=True).over(w_fwd))
    elif direction == "nearest":
        back = bounded(F.last("__r", ignorenulls=True).over(w_back))
        fwd = bounded(F.last("__r", ignorenulls=True).over(w_fwd))
        back_gap = F.unix_micros(F.col("__t")) - F.unix_micros(
            back[right_ts]
        )
        fwd_gap = F.unix_micros(fwd[right_ts]) - F.unix_micros(
            F.col("__t")
        )
        carried = (
            F.when(back.isNull(), fwd)
            .when(fwd.isNull(), back)
            .when(fwd_gap < back_gap, fwd)
            .otherwise(back)
        )
    else:
        raise ValueError(f"unknown direction: {direction!r}")
    out = (
        unioned.withColumn("__m", carried)
        .filter(F.col("__side") == 0)
        .select(
            *left.columns,
            F.col("__m")[right_ts].alias(
                right_ts if right_ts not in left.columns else f"{right_ts}_right"
            ),
            *[
                F.col("__m")[c].alias(
                    c if c not in left.columns else f"{c}_right"
                )
                for c in rcols
            ],
        )
    )
    return out


_INTERVAL_UNITS_US = {
    "second": 1_000_000,
    "seconds": 1_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
    "day": 86_400_000_000,
    "days": 86_400_000_000,
}


def _interval_micros(spec: str) -> int:
    """Parse ``'N unit'`` (e.g. ``'1 hour'``) to microseconds."""
    n, unit = spec.strip().split()
    return int(n) * _INTERVAL_UNITS_US[unit.lower()]


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    range_start: str,
    range_end: str,
    on: Sequence[str] | None = None,
    bucket: str = "1 day",
) -> DataFrame:
    """Range (interval) join: pair left rows whose ``left_ts`` falls in
    ``[range_start, range_end]`` of right rows, optionally also matching
    equi-keys ``on``.

    A naive theta-join is a broadcast-nested-loop (O(n·m) — dead at
    scale). The engine bucketizes time into ``bucket``-wide cells,
    explodes each right interval to the cells it covers, and equi-joins
    on (keys, cell) before the exact range filter — shuffle cost is
    O(rows × cells/interval), and Catalyst keeps the post-join filter.
    Intervals much longer than ``bucket`` multiply the explode factor;
    pick ``bucket`` ≈ median interval length.
    """
    left = _as_instant(left, left_ts)
    right = _as_instant(_as_instant(right, range_start), range_end)
    keys = list(on or [])
    bucket_us = _interval_micros(bucket)

    def cell(c: str):
        # Arithmetic bucketing (epoch-µs floor division) rather than
        # F.window(): Spark allows only one window expression per
        # projection, and this needs two (range start + end).
        return F.unix_micros(F.col(c)) - (
            F.unix_micros(F.col(c)) % F.lit(bucket_us)
        )

    lhs = left.withColumn("__cell", cell(left_ts))
    rhs = right.withColumn(
        "__cells",
        F.sequence(cell(range_start), cell(range_end), F.lit(bucket_us)),
    ).withColumn("__cell", F.explode("__cells")).drop("__cells")
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys] + [
        F.col("l.__cell") == F.col("r.__cell"),
        F.col(f"l.{left_ts}") >= F.col(f"r.{range_start}"),
        F.col(f"l.{left_ts}") <= F.col(f"r.{range_end}"),
    ]
    joined = lhs.alias("l").join(rhs.alias("r"), cond, "inner")
    lcols = [F.col(f"l.{c}") for c in left.columns]
    rcols = [
        F.col(f"r.{c}").alias(c if c not in left.columns else f"{c}_right")
        for c in right.columns
        if c not in keys
    ]
    return joined.select(*lcols, *rcols)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt_factor: int = 8,
) -> DataFrame:
    """Skew-mitigating equi-join: split each hot key of the ``skewed``
    side across ``salt_factor`` sub-keys and replicate the ``other``
    side once per sub-key, so one giant key no longer lands on one
    reducer.

    Salt assignment hashes the skewed row's full tuple (deterministic,
    no ``rand()`` — replays and retries stay stable). This is the
    manual fallback for when AQE's runtime skew-join (enabled by the
    session factory) can't help — e.g. a skewed aggregation feeding a
    join, or a non-AQE environment. Cost: ``other`` × ``salt_factor``
    shuffle volume; use only on genuinely skewed keys.

    Only ``inner``/``left``/``left_semi``/``left_anti`` (and cross) are
    supported: the replicated ``other`` side carries one copy per salt
    value, so for ``right`` or ``full_outer`` joins every salt value
    absent from the skewed side would emit a spurious null-padded row —
    unmatched right rows would be duplicated ``salt_factor`` times.
    Those shapes raise instead of silently returning wrong rows.
    """
    normalized = how.lower().replace("_", "")
    if normalized in {"right", "rightouter", "full", "fullouter", "outer"}:
        raise ValueError(
            f"salted_join does not support how={how!r}: the salted "
            "replication of the non-skewed side duplicates unmatched "
            "right-side rows. Salt the other side, or rely on AQE "
            "skew-join handling for outer shapes."
        )
    keys = list(on)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt_factor)
    ).cast("int")
    left = skewed.withColumn("__salt", salt)
    right = other.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_factor)])),
    )
    out = left.join(right, on=[*keys, "__salt"], how=how)
    return out.drop("__salt")


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_exprs: Sequence[Column | str],
    max_distance: int = 1,
) -> DataFrame:
    """Record-linkage fuzzy self-match: candidate pairs share a blocking
    key, survivors are within ``max_distance`` Levenshtein edits.

    The classic two-phase linkage design (Fellegi–Sunter blocking): the
    equi-join on the blocking key is what makes fuzzy matching feasible
    at scale — candidates are generated per block instead of the O(n²)
    all-pairs cross join, and Catalyst plans it as a plain shuffled (or
    broadcast) hash join on the key. ``levenshtein`` is a JVM built-in,
    codegen'd, evaluated only on within-block candidates. Emits each
    unordered pair once (``a_id < b_id``) with the edit distance.

    100 TB posture: comparisons = Σ_b |block_b|²; the blocking
    expression is the scale lever (tighter blocks = fewer candidates),
    and a hot block is an AQE skew-join split, not a planning hazard.
    """
    blocks = [
        F.expr(e).alias(f"__blk{i}") if isinstance(e, str) else
        e.alias(f"__blk{i}")
        for i, e in enumerate(block_exprs)
    ]
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"), *blocks
    )
    blk_cols = [f"__blk{i}" for i in range(len(blocks))]
    left = base.select(
        F.col("__id").alias("a_id"), F.col("__txt").alias("a_text"), *blk_cols
    )
    right = base.select(
        F.col("__id").alias("b_id"), F.col("__txt").alias("b_text"), *blk_cols
    )
    dist = F.levenshtein("a_text", "b_text")
    return (
        left.join(right, on=blk_cols)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(dist <= max_distance)
        .select("a_id", "b_id", dist.alias("edit_distance"))
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    cell: int = 7,
) -> DataFrame:
    """Join every pair of overlapping integer intervals
    (``a.start <= b.end AND b.start <= a.end``, ends inclusive)
    WITHOUT the quadratic inequality cross join that predicate
    naively plans as.

    Grid-bucketing: each interval explodes to the ``cell``-width grid
    cells it covers, cells equi-join (the shuffle key is an 8-byte
    cell id — never the payload), the true overlap predicate filters
    within cells, and each pair is emitted EXACTLY once by keeping
    only the first cell both intervals cover (``cell ==
    max(bucket(a.start), bucket(b.start))``) — a counting trick that
    replaces a global ``distinct`` over the pair set. Replication is
    ``1 + span/cell`` rows per interval; pick ``cell`` near the
    typical span to bound both replication and per-cell population.
    Skewed (very long) intervals fan out across many cells rather
    than concentrating one; AQE rebalances hot cells.

    Column names of ``a`` and ``b`` must be disjoint. Works for
    negative coordinates (floor-toward-−∞ bucketing).
    """
    overlap_names = set(a.columns) & set(b.columns)
    if overlap_names:
        raise ValueError(
            f"a/b column names must be disjoint, both have: "
            f"{sorted(overlap_names)}"
        )
    reserved = {"__cell"} & (set(a.columns) | set(b.columns))
    if reserved:
        raise ValueError(
            "'__cell' is reserved as the grid-bucket working column; "
            "rename it on the input before joining"
        )

    def cells(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "__cell",
            F.explode(
                F.sequence(
                    F.floor(F.col(s) / cell), F.floor(F.col(e) / cell)
                )
            ),
        )

    first_shared = F.greatest(
        F.floor(F.col(a_start) / cell), F.floor(F.col(b_start) / cell)
    )
    return (
        cells(a, a_start, a_end)
        .join(cells(b, b_start, b_end), "__cell")
        .where(
            (F.col(a_start) <= F.col(b_end))
            & (F.col(b_start) <= F.col(a_end))
            & (F.col("__cell") == first_shared)
        )
        .drop("__cell")
    )
