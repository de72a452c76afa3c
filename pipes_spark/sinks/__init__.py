"""Sinks (SURVEY.md §2.C "sinks"): terminal operators for the Final node
position (ref: pipe/node.go:21-23). Thin, named wrappers so pipelines read
declaratively; each returns what the underlying action returns.

Scale notes: ``write_parquet`` supports partitioning columns (directory
pruning for downstream readers) and a target file-count hint — at 100 TB the
difference between 200 and 200k output files is an operational incident.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame


def write_parquet(
    path: str,
    mode: str = "overwrite",
    partition_by: Optional[Sequence[str]] = None,
    target_files: Optional[int] = None,
):
    def sink(df: DataFrame):
        d = df.coalesce(target_files) if target_files else df
        w = d.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    return sink


def write_csv(path: str, mode: str = "overwrite", header: bool = True, **options):
    def sink(df: DataFrame):
        df.write.mode(mode).options(header=header, **options).csv(path)
        return path

    return sink


def write_json(path: str, mode: str = "overwrite", **options):
    def sink(df: DataFrame):
        df.write.mode(mode).options(**options).json(path)
        return path

    return sink


def write_orc(path: str, mode: str = "overwrite"):
    def sink(df: DataFrame):
        df.write.mode(mode).orc(path)
        return path

    return sink


def write_avro(path: str, codec: str = "deflate"):
    """Avro container sink via the engine's pure-Python partition-parallel
    DataSourceWriter (sources.avro.write_avro — one container part file
    per partition; public Avro 1.11 spec, no spark-avro jar needed)."""

    def sink(df: DataFrame):
        from pipes_spark.sources.avro import write_avro as _wa

        _wa(df, path, codec=codec)
        return path

    return sink


def collect_rows(df: DataFrame) -> list:
    """In-memory collect sink (ref: pipe/node_test.go:56-61)."""
    return df.collect()


def count_rows(df: DataFrame) -> int:
    return df.count()


def show(n: int = 20):
    """Console sink (ref: Printer, tutorial/minigrep/minigrep.go:108-115)."""

    def sink(df: DataFrame):
        df.show(n, truncate=False)

    return sink


def write_bucketed(
    table_name: str,
    bucket_cols: list,
    num_buckets: int = 32,
    sort_cols: list = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
):
    """Bucketed managed-table sink: co-locates rows by hash(bucket_cols)
    at WRITE time, so later equi-joins and aggregations on those columns
    run exchange-free — the shuffle is paid once instead of per query.
    The standard layout for repeatedly-joined 100 TB fact tables.
    Returns a sink fn for Pipeline.add_final (or call directly)."""

    def sink(df):
        w = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_cols)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(table_name)
        return table_name

    return sink


def compact_parquet(
    spark, src_path: str, dst_path: str, target_file_mb: int = 256, mode: str = "overwrite"
) -> int:
    """Rewrite a parquet directory into files of ~``target_file_mb`` each.

    File-count sizing uses the TRUE on-disk byte size of the source (listed
    via Hadoop's FileSystem, so it works on any supported filesystem), not a
    row-size guess — compression ratios make schema-based estimates wrong
    by 5-10×. At 100 TB, both failure modes are operational incidents:
    thousands of KB-files per partition (listing + open overhead, tiny row
    groups) or single multi-GB files (no read parallelism). Streaming
    sinks and over-partitioned jobs produce the former; this is the
    periodic compaction pass that fixes them.

    Returns the number of output files written."""
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = p.getFileSystem(conf)
    total_bytes = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    # repartition (round-robin) rather than coalesce: coalesce would chain
    # upstream and can collapse read parallelism; compaction is IO-bound
    # and wants an even spread
    df.repartition(n_files).write.mode(mode).parquet(dst_path)
    return n_files


def write_clustered(
    path: str,
    cluster_by: Sequence[str],
    num_files: int = 32,
    mode: str = "overwrite",
):
    """Range-clustered parquet layout: rows are range-partitioned on
    ``cluster_by`` and sorted within each file, so every file (and every
    row group inside it) covers a narrow, non-overlapping key range.

    The point at 100 TB: parquet readers prune files and row groups from
    footer min/max statistics, and those statistics only help when values
    are clustered — a range query over a randomly-laid-out table still
    touches every file, over a clustered one it touches the few files
    whose range overlaps (the single-dimension case of Z-ordering /
    liquid clustering). ``repartitionByRange`` samples key quantiles, so
    files come out balanced even under skew.
    """

    def sink(df: DataFrame):
        (
            df.repartitionByRange(num_files, *cluster_by)
            .sortWithinPartitions(*cluster_by)
            .write.mode(mode)
            .parquet(path)
        )
        return path

    return sink


def zorder_value(df: DataFrame, cols: Sequence[str], bits: int = 10):
    """Z-order (Morton) key over ``cols`` as a Column: each column is
    min-max scaled to a ``bits``-bit integer (``width_bucket`` — one flat
    codegen expression, no UDF), then the per-column bits are interleaved
    so nearby z-values are nearby in EVERY dimension at once.

    ``len(cols) * bits`` must fit a signed long (≤ 62). The min/max bounds
    come from one aggregate over the input — at ingest scale that is a
    single extra scan, the standard cost of clustering (what Delta's
    OPTIMIZE ZORDER pays too). Uniform buckets are skew-sensitive; for
    heavily skewed dimensions, pre-transform the column (e.g. log) or
    lower ``bits``."""
    from pyspark.sql import functions as F

    if len(cols) * bits > 62:
        raise ValueError(f"{len(cols)} cols x {bits} bits overflows a long")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in cols],
    ).first()
    n = len(cols)
    z = F.lit(0).cast("bigint")
    for ci, c in enumerate(cols):
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        if lo is None or hi is None or lo == hi:
            continue  # constant/all-null dimension carries no information
        # width_bucket returns 1..2^bits (+1 for the hi endpoint) → 0-based, clamped
        b = F.least(
            F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(2**bits)) - 1,
            F.lit(2**bits - 1),
        )
        b = F.coalesce(b, F.lit(0)).cast("bigint")
        for i in range(bits):
            z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * n + ci)
    return z


def write_zordered(
    path: str,
    cluster_by: Sequence[str],
    num_files: int = 32,
    bits: int = 10,
    mode: str = "overwrite",
):
    """Multi-dimension clustered parquet layout: rows are range-partitioned
    and sorted on their Z-order key, so every file covers a narrow range in
    *each* ``cluster_by`` dimension simultaneously.

    The multi-column generalization of ``write_clustered``: single-column
    range clustering makes one dimension prunable and leaves the others
    random; the Morton interleave trades a little per-dimension tightness
    for min/max footer statistics that prune on ANY of the clustered
    dimensions (files touch ~2^(-bits_per_dim) of each dimension's span).
    ``repartitionByRange`` samples z-key quantiles, so files stay balanced
    even when the scaled buckets are not."""

    def sink(df: DataFrame):
        (
            df.withColumn("_z", zorder_value(df, cluster_by, bits))
            .repartitionByRange(num_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode(mode)
            .parquet(path)
        )
        return path

    return sink


def write_training_shards(
    path: str,
    id_col: str,
    shard_size: int,
    salt: str = "",
    mode: str = "overwrite",
):
    """Deterministic training-shard export: globally permute the rows by
    portable hash (``operators.sampling.shard_assignment``), cut into
    fixed-size shards, and write ONE parquet file per shard with rows in
    permutation order — the "shuffle once, serve shards to the trainer"
    handoff (epoch order must be reproducible and independent of the
    corpus's incidental partitioning; re-export with a new ``salt`` for a
    fresh epoch permutation).

    Layout: ``path/shard=N/part-*.parquet``; every shard except the last
    holds exactly ``shard_size`` rows carrying their ``shard_pos``. Each
    shard's rows hash-collect onto one task (repartition on the shard id)
    and sort locally by position, so a shard is one file and one ordered
    read downstream. Skew-free by construction: shards are equal-sized."""

    def sink(df: DataFrame):
        from pyspark.sql import functions as F

        from ..operators.sampling import shard_assignment

        sharded = shard_assignment(df, id_col, shard_size, salt)
        (
            sharded.repartition(F.col("shard"))
            .sortWithinPartitions("shard", "shard_pos")
            .write.mode(mode)
            .partitionBy("shard")
            .parquet(path)
        )
        return path

    return sink
