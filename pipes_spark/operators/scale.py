"""Partitioning helpers for compute-heavy operators.

Spark parallelizes a scan by file splits, and a split never crosses a
parquet row-group boundary — so a small input (one row group) yields ONE
task no matter how many cores exist, serializing any CPU-heavy map stage
behind it. ``ensure_min_partitions`` repartitions only when the plan has
fewer partitions than the target, so:

* on a laptop / CI over toy files it buys full-core parallelism for the
  expensive stages (minhash, simhash, all-pairs cosine);
* on a 1000-executor cluster over 100 TB the input already has thousands of
  splits and this is a no-op — no extra shuffle is introduced.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Rows per task for the volume-sized partition targets: the measured knee
#: between per-task Python-worker/Arrow hop overhead and kernel
#: parallelism (see :func:`presorted_min_partitions`).
ROWS_PER_TASK = 320


def _parse_byte_conf(s: str) -> int:
    """Spark byte-string conf value → bytes (``134217728``, ``128m``,
    ``1g``, ``64MB`` …; bare numbers are bytes, the JavaUtils default
    for this conf)."""
    s = s.strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num, unit = s, 1
    for suf in ("kb", "mb", "gb", "tb", "b", "k", "m", "g", "t"):
        if s.endswith(suf):
            num, unit = s[: -len(suf)], units[suf[0]]
            break
    return int(float(num) * unit)


def src_bytes_hint(df: DataFrame) -> Optional[int]:
    """The on-disk byte-size tag ``sources.read_parquet`` attaches to the
    raw-scan DataFrames it returns (``None`` for anything else). Call
    sites that DERIVE from a scan before the partition helpers
    (``ensure_min_partitions(df.select(...), src_bytes=src_bytes_hint(df))``)
    use it to carry the hint across the derivation — projections and
    filters do not change a scan's split count, so the estimate stays
    exact for scan-rooted inputs."""
    return getattr(df, "_pipes_src_bytes", None)


def _est_scan_partitions(spark, src_bytes: int) -> int:
    """Partition count a fresh file scan of ``src_bytes`` input bytes
    yields — ``ceil(bytes / maxPartitionBytes)`` — computed entirely
    driver-side. The cheap substitute (r12, guide §5) for probing
    ``df.rdd.getNumPartitions()``, which runs full physical planning of
    the subtree on every query CONSTRUCTION only to throw the plan away
    (measured 30–350 ms per call; ~2 s across one bench sweep). Callers
    pass it only for SCAN-ROOTED inputs (no exchange between the scan
    and this operator), where the estimate is exact at both ends of the
    scale: one small local file → 1; a 100 TB table → thousands."""
    mpb = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    return max(1, -(-int(src_bytes) // mpb))


def _rows_target(spark, rows: int) -> int:
    """Partition target sized from data volume: ``ceil(rows /
    ROWS_PER_TASK)``, capped at the cluster's default parallelism."""
    import math

    cores = spark.sparkContext.defaultParallelism
    return min(cores, max(1, math.ceil(rows / ROWS_PER_TASK)))


def ensure_min_partitions(
    df: DataFrame,
    n: Optional[int] = None,
    rows: Optional[int] = None,
    src_bytes: Optional[int] = None,
) -> DataFrame:
    """Round-robin repartition to at least ``n`` (default: cluster default
    parallelism) partitions — only if the current plan has fewer.

    ``rows`` (driver-side parquet-footer count, no Spark job) sizes the
    target from data volume instead of the core count — for LIGHT
    Arrow-batched stages (routing-key UDFs) whose per-task Python-worker
    hop dominates sub-``rows_per_task`` tasks (guide §2.2: fewer, larger
    partitions; same measured 320-row knee as
    :func:`presorted_min_partitions`). CPU-heavy kernels (minhash over
    documents, codecs) should keep the cores-covering default. At real
    scale either form is a no-op: the scan already has more partitions
    than the cap.

    ``src_bytes`` (driver-side ``os.path.getsize`` of the scan's input,
    for SCAN-ROOTED ``df`` only) replaces the ``df.rdd`` partition-count
    probe with :func:`_est_scan_partitions` — construction stays free of
    the throwaway physical-planning pass the probe runs."""
    spark = df.sparkSession
    if n is None:
        n = (
            _rows_target(spark, rows)
            if rows is not None
            else spark.sparkContext.defaultParallelism
        )
    if src_bytes is None:
        src_bytes = src_bytes_hint(df)
    cur = (
        _est_scan_partitions(spark, src_bytes)
        if src_bytes is not None
        else df.rdd.getNumPartitions()
    )
    if cur < n:
        return df.repartition(n)
    return df


def presorted_min_partitions(
    df: DataFrame,
    *keys: str,
    n: Optional[int] = None,
    rows: Optional[int] = None,
    src_bytes: Optional[int] = None,
) -> DataFrame:
    """Range-repartition + in-partition sort of a CHEAP input so that
    order-preserving downstream map stages (the Arrow codec kernels emit
    rows in input order) deliver GLOBALLY sorted output without a final
    ``orderBy``.

    Why not sort at the end: a global sort's RangePartitioner samples its
    child with a SEPARATE Spark job before the shuffle-map job runs, so
    everything below the sort — for the codec round trips the whole
    encode→decode Python chain — executes TWICE per action (optimization
    guide §1.4/§7.2; A/B at sf0.1 on the PNG round trip: declared
    decode→orderBy 1.51 s, input-sorted 0.74 s, child alone 0.69 s).
    Sorting the small metadata rows BEFORE the expensive stages moves the
    sampling job onto the cheap scan — the guide §8 rule: every shuffle
    but the last moves a lightweight proxy, never the heavy bytes twice.
    Ascending range partitions + per-partition sort + order-preserving
    maps reproduce exactly the total output order the final ``orderBy``
    gave (pinned per converted query by tests/test_opt_r11.py). The
    partition count covers the cores like :func:`ensure_min_partitions`;
    at real scale this is the query's single range shuffle, applied to
    input metadata instead of output metadata.

    Partition count (guide §2.2 — fewer, larger partitions): when the
    caller supplies ``rows`` (driver-side parquet-footer count, no job),
    the target is ``ceil(rows / ROWS_PER_TASK)`` capped at the cluster's
    default parallelism and floored at the plan's existing partition
    count — derived from data volume, never a host constant.
    ``ROWS_PER_TASK`` (320) sits at the measured knee between per-task
    Python-worker/Arrow hop overhead (which dominates sub-200-row tasks:
    png ladder 32→16 partitions = 1.10→0.70 s at sf0.1) and CPU-bound
    kernel parallelism (flac degrades below ~300 rows/task of headroom:
    16 partitions 1.69 s, 8 partitions 2.62 s). Without ``rows`` the old
    cores-covering default applies. ``src_bytes`` replaces the
    partition-count floor's ``df.rdd`` probe with the driver-side
    estimate (see :func:`ensure_min_partitions`); the floor's purpose —
    never shrink a big scan's parallelism — is preserved because the
    estimate IS the scan's split count."""
    spark = df.sparkSession
    if n is None:
        if rows is not None:
            if src_bytes is None:
                src_bytes = src_bytes_hint(df)
            floor_parts = (
                _est_scan_partitions(spark, src_bytes)
                if src_bytes is not None
                else df.rdd.getNumPartitions()
            )
            n = max(floor_parts, _rows_target(spark, rows))
        else:
            n = spark.sparkContext.defaultParallelism
    return df.repartitionByRange(n, *[F.col(k) for k in keys]).sortWithinPartitions(
        *keys
    )


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Equi-join hardened against hot keys by salting.

    The big (skewed) side gets a uniform salt; the small side is replicated
    once per salt bucket; the join key becomes (keys…, salt), so one hot key
    spreads over ``salt_buckets`` reducers instead of one straggler task.
    Result is identical to the plain join. AQE's skew-join split is the
    first line of defense (enabled in the session factory) — this is the
    explicit fallback when the skew is known up front or AQE cannot split
    (e.g. a broadcast-ineligible dimension with one pathological key).
    """
    from pyspark.sql import functions as F

    salt = F.pmod(F.xxhash64(*[F.col(c) for c in on], F.monotonically_increasing_id()), F.lit(salt_buckets))
    big_s = big.withColumn("_salt", salt.cast("int"))
    small_s = small.join(
        big.sparkSession.range(salt_buckets).select(F.col("id").cast("int").alias("_salt")),
        how="cross",
    )
    return big_s.join(small_s, on + ["_salt"], how).drop("_salt")


def salted_two_phase_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[tuple[str, str, str]],
    num_salts: int = 32,
) -> DataFrame:
    """Skew-proof aggregation: partial-aggregate on (keys…, salt), then
    re-aggregate on the keys. For a hot key whose rows would all land on
    one reducer, the first phase spreads them over ``num_salts`` reducers
    and the second phase combines ``num_salts`` partial rows — the same
    trick AQE applies to skewed joins, spelled out for aggregation.

    ``aggs`` is (fn, col, alias) with fn ∈ {sum, count, min, max} — the
    re-aggregatable (commutative-monoid) aggregates: count re-aggregates
    with sum, the rest with themselves. (avg = sum/count downstream;
    count_distinct needs the HLL-sketch rollup instead, see
    operators.rollup.) Note Spark's hash aggregation already does map-side
    partial combine, which handles most skew; the explicit salt matters
    when the FINAL shuffle's per-key row count (post-combine, one row per
    key per map task × thousands of map tasks) still overloads a reducer.
    """
    # the salt must vary WITHIN a key to spread it (a key-derived salt
    # would send the hot key to one reducer again); any assignment yields
    # the same final aggregate, so row position is fine
    salted = df.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(num_salts))
    )
    partial_exprs, final_exprs = [], []
    for fn, col, alias in aggs:
        if fn not in ("sum", "count", "min", "max"):
            raise ValueError(f"non-reaggregatable fn {fn!r}")
        part = f"_p_{alias}"
        partial_exprs.append(getattr(F, fn)(col).alias(part))
        refn = "sum" if fn in ("sum", "count") else fn
        final_exprs.append(getattr(F, refn)(part).alias(alias))
    return (
        salted.groupBy(*keys, "_salt")
        .agg(*partial_exprs)
        .groupBy(*keys)
        .agg(*final_exprs)
    )
