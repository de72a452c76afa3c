"""Composite relational operators (SURVEY.md §2.C).

In the reference every one of these would be hand-written state inside a
``MiddleFunc`` (ref: pipe/node.go:16-19); here they are first-class,
composed entirely from Spark built-ins so Catalyst plans them (broadcast
vs shuffle join, partial aggregation, AQE skew handling).

Scale notes (100 TB design points) are documented per function.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number window + filter.

    Scale: a single shuffle on the group keys; no global sort. For extreme
    cardinality ensure ``order_by`` includes a unique tie-break column so
    results are deterministic across retries/partitionings.
    """
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    value_cols: Sequence[str],
    prefix: str = "asof_",
    direction: str = "backward",
    tolerance_seconds: Optional[float] = None,
) -> DataFrame:
    """As-of join: for each left row, the nearest right row at or before
    (``direction="backward"``) / at or after (``"forward"``) ``left.on``
    within the same ``by`` group, optionally no further than
    ``tolerance_seconds`` away (beyond it the asof columns are NULL) —
    the full merge_asof surface.

    Spark has no native as-of join; the scalable formulation is the
    union+window trick: tag both sides, sort within each ``by`` partition by
    (on, side) and carry the nearest non-null right value across. One
    shuffle, no per-key Python, no broadcast requirement — works when both
    sides are huge (a ``merge_asof``-in-Pandas fallback would need
    per-group collect).

    Right rows that tie on (by, on) are collapsed with ``max`` first to keep
    the result deterministic.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    by = list(by)
    on_type = dict(right.dtypes)[on]
    right_u = (
        right.groupBy(*by, on)
        .agg(*[F.max(c).alias(c) for c in value_cols])
        .withColumn("__match_on", F.col(on))
    )
    carry = list(value_cols) + ["__match_on"]
    lcols = left.columns
    # side tags make ties at equal `on` sort the right row into the frame:
    # backward frames look at preceding rows (right first), forward frames
    # at following rows (right after the left row)
    left_side, right_side = (1, 0) if direction == "backward" else (0, 1)
    lhs = left.select(*lcols).withColumn("_side", F.lit(left_side))
    for c in carry:
        lhs = lhs.withColumn(f"_rv_{c}", F.lit(None).cast(right_u.schema[c].dataType))
    rhs = right_u.select(
        *by,
        F.col(on),
        F.lit(right_side).alias("_side"),
        *[F.col(c).alias(f"_rv_{c}") for c in carry],
    )
    for c in lcols:
        if c not in by and c != on:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    rhs = rhs.select(*lcols, "_side", *[f"_rv_{c}" for c in carry])
    unioned = lhs.select(*lcols, "_side", *[f"_rv_{c}" for c in carry]).unionByName(rhs)

    base = Window.partitionBy(*by).orderBy(F.col(on).asc(), F.col("_side").asc())
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        fill = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        fill = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
    out = unioned
    for c in carry:
        out = out.withColumn(f"{prefix}{c}", fill(f"_rv_{c}"))
    out = out.filter(F.col("_side") == left_side).drop(
        "_side", *[f"_rv_{c}" for c in carry]
    )
    matched_on = F.col(f"{prefix}__match_on")
    if tolerance_seconds is not None:
        if on_type.startswith("timestamp"):
            # cast handles TIMESTAMP_NTZ inputs (unix_micros rejects NTZ);
            # no-op for TIMESTAMP, value-identical under the UTC session zone
            age_us = F.unix_micros(F.col(on).cast("timestamp")) - F.unix_micros(
                matched_on.cast("timestamp")
            )
        else:
            age_us = (F.col(on) - matched_on) * 1_000_000
        if direction == "forward":
            age_us = -age_us
        ok = matched_on.isNotNull() & (age_us <= int(tolerance_seconds * 1_000_000))
        for c in value_cols:
            out = out.withColumn(f"{prefix}{c}", F.when(ok, F.col(f"{prefix}{c}")))
    return out.drop(f"{prefix}__match_on")


def range_join(
    df: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Band/interval join: match rows to [lo, hi) ranges.

    Scale: the bands side is small by construction → broadcast, so the big
    side never shuffles and the theta condition never degenerates into a
    cartesian product across executors.
    """
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return df.join(F.broadcast(bands), cond, "inner")


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: Optional[str] = None,
) -> DataFrame:
    """Assign gap-based session ids per user (lag + cumulative sum).

    Scale: one shuffle on ``user_col``; windows run within partitions. For
    skewed users at 100 TB add a coarse time-bucket to the partition key or
    use streaming ``session_window`` instead.
    """
    order = [F.col(ts_col).asc()] + ([F.col(order_tiebreak).asc()] if order_tiebreak else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_ms = F.unix_millis(F.col(ts_col)) - F.unix_millis(F.lag(ts_col).over(w))
    new_session = F.when(
        F.lag(ts_col).over(w).isNull() | (gap_ms > gap_seconds * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("bigint"),
    )


def dedup_keep_min(df: DataFrame, keys: Sequence[str], keep_col: str) -> DataFrame:
    """Deterministic keyed dedup: keep the row with the minimal ``keep_col``
    per key group (``dropDuplicates`` keeps an *arbitrary* row — fine for
    semantics, wrong for reproducible pipelines).

    Scale: implemented as min-aggregate + semi-join-free groupBy when only
    keys+keep are needed, else a row_number window (single shuffle).
    """
    w = Window.partitionBy(*keys).orderBy(F.col(keep_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def ordered_within_partitions(
    df: DataFrame, partition_cols: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """Ordering-contract hook (SURVEY.md §7.2 risk (c)): the reference
    guarantees per-edge FIFO order (Go channels); Spark guarantees order
    only within a partition after an explicit sort. This repartitions by the
    key and sorts within partitions — the cheapest way to give downstream
    per-key iteration (mapPartitions, foreachPartition, stateful consumers)
    the reference's per-sender ordering, without a global sort."""
    return df.repartition(*[F.col(c) for c in partition_cols]).sortWithinPartitions(
        *[F.col(c) for c in partition_cols], *[F.col(c) for c in order_cols]
    )


def binned_range_join(
    df: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bin_width: float = 10.0,
) -> DataFrame:
    """Interval join for when NEITHER side is broadcastable: quantize to a
    bin grid, explode each [lo, hi) interval to the bins it covers, and
    equi-join on the bin — the theta condition becomes a plain shuffle join
    keyed by (bin), then an exact residual filter. Shuffle volume is
    rows + intervals·(interval_width/bin_width); pick ``bin_width`` near the
    typical interval width. This is the standard rewrite that keeps a
    100 TB interval join off the nested-loop path.
    """
    w = float(bin_width)
    binned = df.withColumn("_bin", F.floor(F.col(value_col) / w).cast("long"))
    iv = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor(F.col(hi_col) / w).cast("long"),
            )
        ),
    )
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return binned.join(iv, "_bin").filter(cond).drop("_bin")


def merge_upsert(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """SCD type-1 MERGE: source rows win whole-row on key match (update),
    unmatched source rows are inserted, unmatched target rows survive —
    the relational equivalent of ``MERGE INTO`` with UPDATE *, INSERT *.

    Scale: the merge is one key-shuffled full-outer join (full outer cannot
    broadcast, so even a small delta shuffles — pre-bucket the target on
    the merge keys via ``warehouse.write_bucketed`` to make the target side
    exchange-free and shuffle only the delta). Precedence is row-level, not
    column-level: a matched source row replaces every column.
    """
    s = source.withColumn("_src", F.lit(1)).alias("s")
    t = target.alias("t")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    take_src = F.col("s._src").isNotNull()
    cols = [
        F.when(take_src, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in target.columns
    ]
    return t.join(s, cond, "full_outer").select(*cols)


def sessionize_bucketed(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    bucket: str = "day",
    order_tiebreak: Optional[str] = None,
) -> DataFrame:
    """Skew-safe sessionization: identical output to :func:`sessionize`,
    but the big window runs per ``(user, time-bucket)`` so one hot user's
    years of events spread across many tasks instead of one.

    Two passes: (1) local sessionize within each bucket partition;
    (2) stitch across bucket boundaries on the per-(user, bucket) summary
    table — one row per bucket a user has events in, carrying (#local
    sessions, first/last event time). A bucket's first local session
    merges with the previous non-empty bucket's last session when the
    boundary gap is ≤ ``gap_seconds``; global ids then come from a
    cumulative sum of (sessions − merges), and every event gets
    ``global_id = cum_before + local_id − merge_flag`` via one join back
    on the bucket key.

    Correctness requires ``bucket`` width ≥ ``gap_seconds`` (a whole empty
    bucket between two events then implies a gap strictly greater than the
    threshold, so only consecutive non-empty buckets can ever merge —
    which is exactly what the boundary check covers). ``"day"`` supports
    gaps up to 86400 s.

    Scale: pass 1 shuffles on the salted (user, bucket) key; pass 2's
    summary table is ~(active users × buckets) rows — thousands of times
    smaller than the events; the join back is on (user, bucket).
    """
    _widths = {"hour": 3600, "day": 86400, "week": 604800}
    if bucket not in _widths:
        raise ValueError(f"bucket must be one of {sorted(_widths)}, got {bucket!r}")
    if gap_seconds > _widths[bucket]:
        raise ValueError(
            f"bucket width {bucket!r} ({_widths[bucket]}s) must be >= gap_seconds "
            f"({gap_seconds}s) for bucketed sessionize to equal the global one"
        )
    bkt = F.date_trunc(bucket, F.col(ts_col)).alias("_bkt")
    order = [F.col(ts_col).asc()] + ([F.col(order_tiebreak).asc()] if order_tiebreak else [])

    local_w = Window.partitionBy(user_col, "_bkt").orderBy(*order)
    prev_ts = F.lag(ts_col).over(local_w)
    gap_ms = F.unix_millis(F.col(ts_col)) - F.unix_millis(prev_ts)
    new_local = F.when(prev_ts.isNull() | (gap_ms > gap_seconds * 1000), 1).otherwise(0)
    local = df.withColumn("_bkt", bkt).withColumn(
        "_lsid",
        F.sum(new_local)
        .over(local_w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )

    summary = local.groupBy(user_col, "_bkt").agg(
        F.max("_lsid").alias("_k"),
        F.min(ts_col).alias("_first"),
        F.max(ts_col).alias("_last"),
    )
    user_w = Window.partitionBy(user_col).orderBy("_bkt")
    boundary_ms = F.unix_millis(F.col("_first")) - F.unix_millis(
        F.lag("_last").over(user_w)
    )
    merge_flag = F.when(
        boundary_ms.isNotNull() & (boundary_ms <= gap_seconds * 1000), 1
    ).otherwise(0)
    stitched = summary.withColumn("_merge", merge_flag.cast("bigint")).withColumn(
        "_cum_before",
        F.coalesce(
            F.sum(F.col("_k") - F.col("_merge")).over(
                user_w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint"),
    )

    return (
        local.join(
            stitched.select(user_col, "_bkt", "_merge", "_cum_before"),
            [user_col, "_bkt"],
        )
        .withColumn(
            "session_id", (F.col("_cum_before") + F.col("_lsid") - F.col("_merge")).cast("bigint")
        )
        .drop("_bkt", "_lsid", "_merge", "_cum_before")
    )


def scd2_point_in_time(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    as_of_col: str,
    value_cols: Sequence[str],
    prefix: str = "pit_",
) -> DataFrame:
    """Point-in-time (validity-interval) join: each fact row is enriched
    with the dimension VERSION whose ``[valid_from, valid_to)`` interval
    contains the fact's ``as_of_col`` (``valid_to`` NULL = still open) —
    the read side of SCD2: "what did this customer look like when the
    order was placed", complementing :func:`asof_join` (nearest event in
    time) and :func:`scd2_merge` (the write side).

    Facts with no version covering their timestamp (before the key's first
    version, or unknown key) keep NULL dim columns.

    Scale: the key equality drives a plain hash join (broadcast when the
    dimension is small, key-shuffled otherwise — never a BNLJ); the
    interval bounds ride along as a residual filter, and the per-fact
    output is bounded by versions-per-key, of which exactly one can match
    (versions of one key never overlap by SCD2 construction).
    """
    f = facts.alias("f")
    d = dim.alias("d")
    cond = (
        (F.col(f"f.{fact_key}") == F.col(f"d.{dim_key}"))
        & (F.col(f"f.{as_of_col}") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col(f"f.{as_of_col}") < F.col("d.valid_to")))
    )
    return f.join(d, cond, "left").select(
        *[F.col(f"f.{c}") for c in facts.columns],
        *[F.col(f"d.{c}").alias(f"{prefix}{c}") for c in value_cols],
    )


def scd2_merge(
    dim: DataFrame,
    snapshot: DataFrame,
    key: str,
    tracked: Sequence[str],
    load_date: str,
    close_deleted: bool = True,
) -> DataFrame:
    """SCD type-2 MERGE against a full snapshot: the dimension carries
    (``valid_from``, ``valid_to``, ``is_current``); changed keys get their
    current version closed at ``load_date`` and a new open version
    appended; new keys open a first version; keys absent from the snapshot
    are closed (full-snapshot semantics — pass ``close_deleted=False`` for
    delta feeds). History rows pass through untouched.

    Change detection is null-safe inequality on ``tracked``. Scale: one
    key-shuffled full-outer join between the CURRENT slice and the
    snapshot (history never shuffles — at warehouse scale keep it
    partitioned by ``is_current`` so the scan prunes), then a union of
    column-aligned projections: Catalyst collapses them over the single
    join, so the snapshot is read once.
    """
    ld = F.to_date(F.lit(load_date))
    hist = dim.filter(~F.col("is_current"))
    cur = dim.filter(F.col("is_current")).alias("c")
    scd_cols = ("valid_from", "valid_to", "is_current")
    # every business column the snapshot supplies rides along on a new
    # version; ``tracked`` only decides WHEN a new version is cut
    snap_cols = [c for c in dim.columns if c in snapshot.columns and c not in scd_cols]
    s = snapshot.select(*snap_cols).withColumn("_src", F.lit(1)).alias("s")
    j = cur.join(s, F.col(f"c.{key}") == F.col(f"s.{key}"), "full_outer")

    in_cur = F.col(f"c.{key}").isNotNull()
    in_snap = F.col("s._src").isNotNull()
    changed = None
    for c in tracked:
        neq = ~F.col(f"c.{c}").eqNullSafe(F.col(f"s.{c}"))
        changed = neq if changed is None else (changed | neq)

    dim_cols = dim.columns

    def proj(side: str, valid_from=None, valid_to=None, is_current=None):
        out = []
        for c in dim_cols:
            if c == "valid_from" and valid_from is not None:
                out.append(valid_from.alias(c))
            elif c == "valid_to":
                out.append((valid_to if valid_to is not None else F.col(f"c.{c}")).alias(c))
            elif c == "is_current" and is_current is not None:
                out.append(is_current.alias(c))
            elif side == "s" and c in snap_cols:
                out.append(F.col(f"s.{c}").alias(c))
            elif side == "s":  # untracked column on a fresh version: null
                out.append(F.lit(None).cast(dict(dim.dtypes)[c]).alias(c))
            else:
                out.append(F.col(f"c.{c}").alias(c))
        return out

    unchanged = j.filter(in_cur & in_snap & ~changed).select(*proj("c"))
    closed_changed = j.filter(in_cur & in_snap & changed).select(
        *proj("c", valid_to=ld, is_current=F.lit(False))
    )
    new_version = j.filter(in_snap & (~in_cur | changed)).select(
        *proj(
            "s",
            valid_from=ld,
            valid_to=F.lit(None).cast("date"),
            is_current=F.lit(True),
        )
    )
    if close_deleted:
        gone = j.filter(in_cur & ~in_snap).select(
            *proj("c", valid_to=ld, is_current=F.lit(False))
        )
    else:
        gone = j.filter(in_cur & ~in_snap).select(*proj("c"))
    return hist.unionByName(unchanged).unionByName(closed_changed).unionByName(
        new_version
    ).unionByName(gone)


def association_rules(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    gap_seconds: int = 1800,
    order_tiebreak: Optional[str] = None,
    min_support: int = 2,
) -> DataFrame:
    """Session-basket association rules: co-occurrence of event types
    within gap-based sessions, with support and lift — market-basket
    analysis where the basket is the session (the affinity signal behind
    "users who did A also did B").

    lift(a,b) = P(a,b) / (P(a)·P(b)) over sessions; > 1 means the pair
    co-occurs more than independence predicts. All counting is integer;
    the single float division happens once per output row and is rounded,
    so results are engine-exact.

    Scale: sessionize (one window pass), reduce to DISTINCT (session,
    type) — the basket table, ≤ #types rows per session (persisted for
    the query's lifetime: it feeds the pair join, the marginals, and the
    session count) — then the pair join keys on the session id: pair
    volume is Σ_s |basket_s|², bounded by the type-vocabulary squared
    per session, never by event counts. The session count N stays
    IN-PLAN (1-row aggregate cross-joined broadcast, the pmi_pairs
    pattern) — no eager driver action at construction time; an empty
    input yields an empty pair table, so the divisions never run.
    """
    from ..caching import scoped_persist

    s = sessionize(events, user_col, ts_col, gap_seconds, order_tiebreak=order_tiebreak)
    baskets = scoped_persist(
        s.select(
            F.concat_ws("#", F.col(user_col).cast("string"), F.col("session_id").cast("string")).alias("_sid"),
            F.col(type_col).alias("_t"),
        ).distinct()
    )
    ng = baskets.agg(F.count_distinct("_sid").cast("double").alias("_n"))
    singles = baskets.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    a = baskets.select("_sid", F.col("_t").alias("type_a"))
    b = baskets.select("_sid", F.col("_t").alias("type_b"))
    pairs = (
        a.join(b, "_sid")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    ca = singles.select(F.col("_t").alias("type_a"), F.col("_c").alias("_ca"))
    cb = singles.select(F.col("_t").alias("type_b"), F.col("_c").alias("_cb"))
    # ratios run in DOUBLE: BIGINT marginal products overflow LONG under
    # ANSI at large session counts, and both feed a rounded float anyway
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(ng))
        .select(
            "type_a",
            "type_b",
            "support",
            F.round(F.col("support") / F.col("_n"), 6).alias("pair_freq"),
            F.round(
                (F.col("support") * F.col("_n"))
                / (F.col("_ca").cast("double") * F.col("_cb")),
                6,
            ).alias("lift"),
        )
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    grain: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first-activity
    period (the cohort), counted by how many remain active N periods
    later — the standard product-analytics retention triangle.

    Scale: one min-aggregate per user (the cohort assignment), joined back
    onto the per-(user, period) distinct-activity table (both keyed by
    user — a single co-partitioned join), then one count-distinct
    aggregate per (cohort, offset) cell. All integer arithmetic except
    the final rounded retention fraction.

    Only fixed-length grains are supported: the offset is an epoch
    division, which month/quarter grains would silently corrupt (use a
    months_between formulation for those).
    """
    if grain not in ("day", "week"):
        raise ValueError(f"grain must be 'day' or 'week', got {grain!r}")
    per = F.date_trunc(grain, F.col(ts_col))
    activity = events.select(
        F.col(user_col).alias("_u"), per.alias("_p")
    ).distinct()
    firsts = activity.groupBy("_u").agg(F.min("_p").alias("_cohort"))
    joined = activity.join(firsts, "_u").withColumn(
        "_offset",
        F.floor(
            (F.unix_micros(F.col("_p")) - F.unix_micros(F.col("_cohort")))
            / F.lit(86400000000 * (7 if grain == "week" else 1))
        ).cast("bigint"),
    )
    sizes = firsts.groupBy("_cohort").agg(F.count(F.lit(1)).alias("_size"))
    cells = joined.groupBy("_cohort", "_offset").agg(
        F.count_distinct(F.col("_u")).cast("bigint").alias("n_active")
    )
    return (
        cells.join(F.broadcast(sizes), "_cohort")
        .select(
            F.col("_cohort").alias("cohort"),
            F.col("_offset").alias("period_offset"),
            "n_active",
            F.col("_size").cast("bigint").alias("cohort_size"),
            F.round(F.col("n_active") / F.col("_size"), 6).alias("retention"),
        )
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Snapshot diff — the read-side complement of MERGE/SCD2: classify
    every key as ``added`` / ``removed`` / ``changed`` / ``unchanged``
    between two table versions (the data-engineering audit primitive
    behind CDC validation and regression gates).

    ONE full-outer join on the keys; change detection is a null-safe
    equality over the compared columns (``eqNullSafe`` — NULL == NULL is
    a match, so a NULL-to-NULL column never reports as changed). Output
    carries both sides' compared values for changed keys.
    """
    compare_cols = list(
        compare_cols
        if compare_cols is not None
        else [c for c in old.columns if c not in keys]
    )
    # presence flags come from join-side markers, not data nullability — a
    # row whose compared columns are all NULL is still PRESENT
    o2 = old.select(*keys, F.lit(True).alias("_in_old"),
                    *[F.col(c).alias(f"old_{c}") for c in compare_cols])
    n2 = new.select(*keys, F.lit(True).alias("_in_new"),
                    *[F.col(c).alias(f"new_{c}") for c in compare_cols])
    j = o2.join(n2, list(keys), "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.withColumn("diff_status", status).drop("_in_old", "_in_new")


def path_transitions(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    order_tiebreak: Optional[str] = None,
) -> DataFrame:
    """First-order Markov transition counts/probabilities over each user's
    event sequence — the product-analytics "what do users do next" matrix
    (and the input to next-step prediction baselines and user-journey
    Sankey charts).

    One window pass per user (lag of the event type in event-time order,
    with an explicit unique tie-break so the sequence is deterministic),
    then one integer groupBy on the (from, to) pair and a broadcast-sized
    per-from total join. prob = count(from→to) / count(from→*), rounded —
    engine-exact.

    Scale: the window shuffles once on the user key (per-user sequences;
    the same hot-user caveat and bucketed remedy as sessionize applies);
    the transition matrix is |types|² rows, always tiny.
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(order_tiebreak).asc()] if order_tiebreak else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    seq = events.select(
        F.col(user_col),
        F.lag(F.col(type_col)).over(w).alias("from_type"),
        F.col(type_col).alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("_tot"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("_tot"), 6).alias("prob"),
        )
    )


def incremental_agg_merge(
    state: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    count_col: str = "n",
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: merge a batch of
    new rows into a persisted per-key aggregate WITHOUT re-scanning
    history — the warehouse pattern behind streaming rollups and
    incremental ETL (aggregate 100 TB once, then maintain it with
    per-batch deltas).

    ``state`` holds re-aggregatable partials (count / sums / mins / maxs
    — each mergeable by +, +, least, greatest). The delta is aggregated
    to the same grain (map-side combine shrinks it before the shuffle)
    and merged with ONE outer join on the key — cost is O(|delta| +
    |touched keys|), independent of history size. Averages are derived
    (sum/count) downstream; non-mergeable stats (exact distinct,
    percentile) need sketch-typed state instead (see operators.rollup
    for the HLL/GK forms).
    """
    aggs = [F.count(F.lit(1)).cast("bigint").alias(count_col)]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sums]
    aggs += [F.min(c).alias(f"min_{c}") for c in mins]
    aggs += [F.max(c).alias(f"max_{c}") for c in maxs]
    d = delta.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    merged_cols = []
    for c in [count_col] + [f"sum_{c}" for c in sums]:
        merged_cols.append(
            (
                F.coalesce(F.col(f"s.{c}"), F.lit(0))
                + F.coalesce(F.col(f"d.{c}"), F.lit(0))
            ).alias(c)
        )
    for c in [f"min_{c}" for c in mins]:
        merged_cols.append(F.least(F.col(f"s.{c}"), F.col(f"d.{c}")).alias(c))
    for c in [f"max_{c}" for c in maxs]:
        merged_cols.append(F.greatest(F.col(f"s.{c}"), F.col(f"d.{c}")).alias(c))
    key_cols = [
        F.coalesce(F.col(f"s.{k}"), F.col(f"d.{k}")).alias(k) for k in keys
    ]
    return (
        state.alias("s")
        .join(d.alias("d"), list(keys), "full_outer")
        .select(*key_cols, *merged_cols)
    )


def attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    conversion_type: str,
    touch_types: Sequence[str],
    lookback_seconds: int = 86400,
) -> DataFrame:
    """Marketing-style conversion attribution: for every conversion event,
    the LAST preceding touch within ``lookback_seconds`` (last-touch
    model) and the FIRST touch of the user's whole journey (first-touch
    model) — the two standard credit-assignment baselines.

    One window pass per user ordered by (ts, id) — the explicit unique
    tie-break makes both models deterministic. The preceding-touch carry
    is ``last/first(…, ignorenulls)`` over a ROWS frame ending 1 row
    before the conversion, so a conversion is never attributed to itself
    or to a simultaneous later-id event; the lookback is a plain filter
    on the carried timestamp. Same single-shuffle shape (and same
    hot-user caveat/remedy) as :func:`sessionize`.
    """
    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    w = (
        Window.partitionBy(user_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col).isin(*touch_types)
    touch = F.when(
        is_touch, F.struct(F.col(ts_col).alias("ts"), F.col(id_col).alias("id"), F.col(type_col).alias("t"))
    )
    out = (
        events.withColumn("_last", F.last(touch, ignorenulls=True).over(w))
        .withColumn("_first", F.first(touch, ignorenulls=True).over(w))
        .filter(F.col(type_col) == conversion_type)
    )
    within = F.col("_last.ts") >= F.col(ts_col) - F.expr(
        f"INTERVAL {int(lookback_seconds)} SECONDS"
    )
    return out.select(
        F.col(user_col),
        F.col(id_col).alias("conversion_id"),
        F.col(ts_col).alias("conversion_ts"),
        F.when(within, F.col("_last.id")).alias("last_touch_id"),
        F.when(within, F.col("_last.t")).alias("last_touch_type"),
        F.when(within, F.col("_last.ts")).alias("last_touch_ts"),
        F.col("_first.id").alias("first_touch_id"),
        F.col("_first.t").alias("first_touch_type"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Interval×interval OVERLAP join — both sides are ranges (stays vs
    promotions, sessions vs incidents, reservations vs maintenance
    windows), matched when ``[l_lo, l_hi)`` and ``[r_lo, r_hi)``
    intersect, optionally within equal ``keys``.

    The scale shape extends :func:`binned_range_join` to two interval
    sides: BOTH explode to the bin grid they cover, the join keys on
    (keys…, bin) — a plain shuffle equi-join — and the exact overlap
    predicate (``l_lo < r_hi AND r_lo < l_hi``) filters residually.
    Each intersecting pair shares at least one grid bin (their
    intersection is non-empty and every point lies in some bin), so the
    rewrite is lossless; duplicate bin-matches are collapsed by the
    final distinct on the pair. Shuffle volume is
    Σ(interval_width/bin_width) per side — pick ``bin_width`` near the
    typical interval width, exactly the knob the one-sided form
    documents. Never a BroadcastNestedLoop/Cartesian.
    """
    w = float(bin_width)
    keys = list(keys)

    def explode_bins(df, lo, hi):
        return df.withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / w).cast("long"),
                    F.floor(F.col(hi) / w).cast("long"),
                )
            ),
        )

    l = explode_bins(left, left_lo, left_hi)
    r = explode_bins(right, right_lo, right_hi)
    overlap = (F.col(left_lo) < F.col(right_hi)) & (F.col(right_lo) < F.col(left_hi))
    joined = l.join(r, keys + ["_bin"]).filter(overlap).drop("_bin")
    return joined.distinct()


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    value_cols: Sequence[str],
    id_col: str,
    prefix: str = "asof_",
    tolerance_seconds: Optional[float] = None,
) -> DataFrame:
    """As-of join, ``direction="nearest"``: each left row takes the right
    row CLOSEST in ``on`` within its ``by`` group — either side of the
    timestamp — completing the merge_asof direction surface (backward
    and forward live in :func:`asof_join`). Ties (equidistant matches)
    take the backward row, the pandas convention.

    Composed from the two proven directional passes — each is the
    union+window single-shuffle formulation — joined back on the left's
    unique ``id_col``; the matched timestamps ride along as carried
    values, so choosing the nearer side is a per-row comparison, and a
    ``tolerance_seconds`` bound applies inside each directional pass
    before the comparison (a side beyond tolerance is already NULL).
    """
    right2 = right.withColumn("_rts", F.col(on))
    vcols = list(value_cols) + ["_rts"]
    b = asof_join(
        left, right2, on, by, vcols, prefix="_b_",
        direction="backward", tolerance_seconds=tolerance_seconds,
    )
    f = asof_join(
        left, right2, on, by, vcols, prefix="_f_",
        direction="forward", tolerance_seconds=tolerance_seconds,
    )
    fsel = f.select(F.col(id_col), *[F.col(f"_f_{c}") for c in vcols])
    j = b.join(fsel, id_col)
    on_type = dict(left.dtypes)[on]
    if on_type.startswith("timestamp"):
        t = F.unix_micros(F.col(on).cast("timestamp"))
        bt = F.unix_micros(F.col("_b__rts").cast("timestamp"))
        ft = F.unix_micros(F.col("_f__rts").cast("timestamp"))
    else:
        t, bt, ft = F.col(on), F.col("_b__rts"), F.col("_f__rts")
    use_b = F.col("_b__rts").isNotNull() & (
        F.col("_f__rts").isNull() | ((t - bt) <= (ft - t))
    )
    out = j
    for c in value_cols:
        out = out.withColumn(
            f"{prefix}{c}",
            F.when(use_b, F.col(f"_b_{c}")).otherwise(F.col(f"_f_{c}")),
        )
    return out.drop(*[f"_b_{c}" for c in vcols], *[f"_f_{c}" for c in vcols])


def next_event_eval(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    cutoff,
) -> DataFrame:
    """Evaluate the first-order "predict the next event type" baseline:
    learn per-type argmax transitions from events BEFORE ``cutoff``,
    score every transition at/after it, and report per-type hit rates —
    the honest, time-respecting readout for session-based
    next-item/prefetch heuristics (a Markov argmax is the baseline every
    sequence model must beat).

    One lag window builds the transition stream (per-key, deterministic
    tiebreak); train counts aggregate map-side; the argmax table (≤
    |types| rows) broadcasts onto the test transitions. Integer counts
    throughout; the hit rate is the only division."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    trans = df.select(
        F.col(ts_col).alias("_ts"),
        F.lag(type_col).over(w).alias("from_type"),
        F.col(type_col).alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    train = (
        trans.filter(F.col("_ts") < cutoff)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    wr = Window.partitionBy("from_type").orderBy(
        F.col("_n").desc(), F.col("to_type").asc()
    )
    pred = (
        train.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .select("from_type", F.col("to_type").alias("_pred"))
    )
    test = trans.filter(F.col("_ts") >= cutoff)
    scored = test.join(F.broadcast(pred), "from_type", "left")
    return (
        scored.groupBy("from_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(F.col("to_type") == F.col("_pred"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hit"),
        )
        .withColumn("hit_rate", F.round(F.col("n_hit") / F.col("n_test"), 6))
    )


def incremental_agg_retract(
    state: DataFrame,
    delta: DataFrame,
    key_cols,
    value_col: str = "val",
    op_col: str = "op",
) -> DataFrame:
    """Materialized-aggregate maintenance under INSERTS AND DELETES: the
    delta stream carries ``op`` = +1 (insert) / −1 (retract), and the
    per-key (count, sum) state is merged with the delta's signed partials
    — one outer join on the key, cost O(delta + touched keys), never a
    history re-scan. This is the CDC-feed version of
    :func:`incremental_agg_merge`; keys whose count reaches zero drop out
    of the state entirely.

    Only the additive family (count/sum/avg) is retractable from
    constant state — min/max need ordered per-key state and are
    deliberately excluded (re-derive them from the base table when a
    retraction touches the extremum; the docs of every incremental view
    engine say the same). Sums carry DECIMAL partials: exact,
    order-independent, so maintained state is hash-equal to a full
    recompute."""
    keys = list(key_cols)
    d = delta.groupBy(*keys).agg(
        F.sum(F.col(op_col)).cast("bigint").alias("_dn"),
        F.sum(F.col(op_col) * F.col(value_col).cast("decimal(28,6)")).alias("_ds"),
    )
    merged = state.join(d, keys, "full_outer").select(
        *keys,
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (
            F.coalesce(F.col("sum_val"), F.lit(0).cast("decimal(28,6)"))
            + F.coalesce(F.col("_ds"), F.lit(0).cast("decimal(28,6)"))
        ).alias("sum_val"),
    )
    return merged.filter(F.col("n") > 0)


def sequence_ngrams(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    n: int = 3,
    order_tiebreak: Optional[str] = None,
    min_count: int = 1,
) -> DataFrame:
    """Order-(n−1) extension of :func:`path_transitions`: counts of every
    n-step event-type sequence in each user's stream, with the
    conditional probability of the final step given its (n−1)-prefix —
    the higher-order Markov readout behind "users who did A then B
    usually do C next" (and the behavioral-cloning n-gram baseline).

    One window pass per user materializes the n−1 lags in a single sort
    (Catalyst collapses same-window lags into one physical window node),
    then one integer groupBy on the n-tuple; the prefix totals come from
    a second window over the tiny |types|ⁿ matrix. Deterministic via the
    explicit unique tie-break; same hot-user caveat and bucketed remedy
    as sessionize. With ``min_count`` > 1 the probabilities renormalize
    over the KEPT continuations (rare paths are dropped before the
    prefix total — "among frequent paths" semantics).
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    order = [F.col(ts_col).asc()] + (
        [F.col(order_tiebreak).asc()] if order_tiebreak else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    steps = [
        F.lag(F.col(type_col), n - 1 - i).over(w).alias(f"step{i + 1}")
        for i in range(n - 1)
    ] + [F.col(type_col).alias(f"step{n}")]
    names = [f"step{i + 1}" for i in range(n)]
    seq = events.select(*steps).filter(
        F.col("step1").isNotNull()  # older lags are NULL whenever step1 is
    )
    counts = seq.groupBy(*names).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wp = Window.partitionBy(*names[:-1])
    return counts.filter(F.col("n") >= min_count).select(
        *names,
        "n",
        F.round(F.col("n") / F.sum("n").over(wp).cast("double"), 6).alias("prob"),
    )


def activity_streaks(
    events: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-user consecutive-day activity streaks — the gaps-and-islands
    classic (engagement/retention's "longest streak" and "how fragmented
    is this user's activity"). An island is a maximal run of consecutive
    active days; its id is the invariant ``day − row_number`` anchor, so
    no self-join and no iteration.

    Scale: dedup to (user, day) first (the compressed activity table —
    bounded by users × days regardless of event volume), ONE window pass
    per user for row_number, then two integer aggregates. Everything
    after the dedup is proportional to active user-days.
    """
    du = events.select(
        F.col(user_col), F.date_trunc("day", F.col(ts_col)).cast("date").alias("_day")
    ).distinct()
    w = Window.partitionBy(user_col).orderBy("_day")
    anchored = du.withColumn(
        "_anchor", F.date_sub(F.col("_day"), F.row_number().over(w))
    )
    islands = anchored.groupBy(user_col, "_anchor").agg(
        F.count(F.lit(1)).alias("_len")
    )
    return islands.groupBy(user_col).agg(
        F.sum("_len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("_len").cast("bigint").alias("longest_streak"),
    )


def markov_stationary(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    order_tiebreak: Optional[str] = None,
    iters: int = 100,
    round_decimals: int = 6,
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where
    user attention settles in the long run (the steady-state share of
    each event type if sessions ran forever), computed by power
    iteration π ← πP on the transition matrix from
    :func:`path_transitions`.

    The DISTRIBUTED work is the transition-matrix build (one window
    shuffle over the events); the matrix itself is |types|² — a few
    KBs at any corpus size — so the iteration runs driver-side on
    numpy (the documented small-side contract, like the k-means
    codebook). The iteration uses the LAZY walk P' = (P + I)/2 — the
    IDENTICAL stationary distribution (πP = π ⇔ πP' = π) but aperiodic
    by construction, so periodic chains (hub-and-spoke alternations)
    converge instead of oscillating; iteration stops on convergence.
    Types never observed as a source state keep their incoming
    probability mass via the standard self-loop completion.
    Returns (state, stationary_prob) rows summing to 1.
    """
    import numpy as np

    trans = path_transitions(
        events, user_col, ts_col, type_col, order_tiebreak=order_tiebreak
    ).collect()
    states = sorted({r["from_type"] for r in trans} | {r["to_type"] for r in trans})
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    P = np.zeros((k, k))
    for r in trans:
        P[idx[r["from_type"]], idx[r["to_type"]]] = r["prob"]
    # absorbing/unseen source states: self-loop so rows sum to 1
    for i in range(k):
        tot = P[i].sum()
        if tot == 0.0:
            P[i, i] = 1.0
        else:
            P[i] /= tot  # renormalize rounded probs
    # lazy walk: same fixed point, aperiodic (no oscillation on
    # period-2 chains), monotone convergence
    P = (P + np.eye(k)) / 2.0
    pi = np.full(k, 1.0 / k)
    for _ in range(iters):
        nxt = pi @ P
        nxt /= nxt.sum()
        if np.abs(nxt - pi).max() < 1e-12:
            pi = nxt
            break
        pi = nxt
    spark = events.sparkSession
    return spark.createDataFrame(
        [(s, round(float(pi[idx[s]]), round_decimals)) for s in states],
        "state string, stationary_prob double",
    )


def rolling_return_rate(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Rolling N-day return rate: for each day, the fraction of that
    day's active users who come back within the NEXT ``window_days``
    days — the day-level churn pulse (cohort_retention's calendar
    matrix answers "how do cohorts age"; this answers "is stickiness
    moving this week").

    Shape: dedup once to the compressed (user, day) table, then each
    activity day emits ≤``window_days`` *backward* support rows — "I am
    a return for day d−k" — joined equi on (user, day) against the
    active-day table; never a per-day subquery or range self-join. The
    last ``window_days`` days have a truncated observation window and
    report NULL rate (the honest convention) — their denominator rides
    along so a caller can still inspect them.
    """
    from ..caching import scoped_persist

    du = scoped_persist(
        events.select(
            F.col(user_col).alias("_u"),
            F.date_trunc("day", F.col(ts_col)).cast("date").alias("_day"),
        ).distinct()
    )
    mx = du.agg(F.max("_day").alias("_mx"))
    # backward support: activity on day d supports "returned" for days
    # d-window..d-1 (equi-join keys only; bounded fan-out)
    support = du.select(
        "_u",
        F.explode(
            F.sequence(
                F.date_sub(F.col("_day"), window_days),
                F.date_sub(F.col("_day"), 1),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("_day"),
    ).distinct()
    returned = du.join(support, ["_u", "_day"], "left_semi")
    per_day = du.groupBy("_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )
    per_day_ret = returned.groupBy("_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returned")
    )
    return (
        per_day.join(per_day_ret, "_day", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("_day").alias("day"),
            "n_active",
            F.coalesce(F.col("n_returned"), F.lit(0)).cast("bigint").alias(
                "n_returned"
            ),
            F.when(
                F.col("_day") <= F.date_sub(F.col("_mx"), window_days),
                F.round(
                    F.coalesce(F.col("n_returned"), F.lit(0))
                    / F.col("n_active").cast("double"),
                    6,
                ),
            ).alias("return_rate"),
        )
    )


def skyline_2d(
    df: DataFrame,
    group_cols: Sequence[str],
    minimize_col: str,
    maximize_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-group 2-D Pareto skyline (Börzsönyi et al., ICDE 2001): rows no
    other row dominates (≤ on the minimized axis, ≥ on the maximized one,
    strict somewhere) — the "best tradeoffs" query (cheapest-vs-largest,
    fastest-vs-freshest) a plain ORDER BY cannot answer.

    The classic formulation is an n² dominance anti-join; in 2-D it
    collapses to TWO window tests per row over the group sorted by the
    minimized axis: dominated iff (a) some strictly-cheaper row has ≥ the
    maximized value (RANGE-frame running max), or (b) an equal-cost row
    has a strictly greater one (per-cost partition max). One shuffle on
    the group key; no self-join. Ties (both axes equal) all survive —
    they are mutually non-dominating; ``tiebreak_col`` only stabilizes
    output order.
    """
    mn, mx = F.col(minimize_col), F.col(maximize_col)
    # best maximized value per DISTINCT cost, then "best among strictly
    # cheaper" as a 1-PRECEDING rows window over the compressed cost domain
    per_cost = df.groupBy(*group_cols, minimize_col).agg(
        F.max(mx).alias("_best_here")
    )
    w_prev = (
        Window.partitionBy(*group_cols)
        .orderBy(mn)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = per_cost.withColumn("_best_cheaper", F.max("_best_here").over(w_prev))
    joined = df.join(prev, [*group_cols, minimize_col])
    dominated = F.coalesce(F.col("_best_cheaper") >= mx, F.lit(False)) | (
        F.col("_best_here") > mx
    )
    return (
        joined.filter(~dominated)
        .drop("_best_here", "_best_cheaper")
        .orderBy(*group_cols, mn, F.col(tiebreak_col))
    )
