"""Sources: scan/read operators (SURVEY.md §2.C "scans / sources").

The reference's sources are user Go functions pushing into a channel
(ref: pipe/node.go:12-14); here they are thin, named wrappers over Spark
readers so Catalyst gets pushdown/pruning for free, plus generators matching
the reference's test sources (``Counter``, literal sequences —
ref: pipe/node_test.go:383-389, pipe/bypass_test.go:38-42).
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP.

    The driver's parquet stores ``timestamp[us]`` with
    ``isAdjustedToUTC=false``, which Spark 4 infers as TIMESTAMP_NTZ —
    a type `unix_millis`/`unix_micros`/`withWatermark` all reject. Under
    the engine's pinned UTC session zone the cast is value-identical to
    DuckDB's naive read of the same file, so oracles stay portable."""
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        # The cast interprets NTZ wall-clock in the session zone AT
        # EXECUTION TIME (the plan is lazy), so the UTC pin must be
        # permanent — a set/restore scope around this call would restore
        # the old zone before any action runs and silently change the
        # values. Deliberate session-wide side effect, documented in
        # CLAUDE.md/README; the engine's own session factory already pins
        # UTC, this covers driver-owned sessions.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


_FOOTER_SCHEMAS: dict = {}


def _footer_schema(path: str):
    """(spark_schema, had_naive_timestamp) from the parquet FOOTER via
    pyarrow — driver-side, no Spark job. Timestamp-without-zone columns
    map straight to TIMESTAMP (``prefer_timestamp_ntz=False``), which
    under the engine's pinned UTC session zone is value-identical to the
    NTZ-read-then-cast path in :func:`normalize_ntz` (raw epoch micros
    either way). Cached per (path, size, mtime), so a file rewritten in
    place is read with its new schema."""
    import os

    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _FOOTER_SCHEMAS:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        arrow = pq.ParquetFile(path).schema_arrow
        naive_ts = any(
            isinstance(f.type, pa.TimestampType) and f.type.tz is None for f in arrow
        )
        _FOOTER_SCHEMAS[key] = (
            from_arrow_schema(arrow, prefer_timestamp_ntz=False),
            naive_ts,
        )
    return _FOOTER_SCHEMAS[key]


def read_parquet(spark: SparkSession, path: str, columns: Optional[Sequence[str]] = None) -> DataFrame:
    """Parquet scan; TIMESTAMP_NTZ columns normalized to TIMESTAMP (see
    :func:`normalize_ntz`). The cast is a zero-cost projection — pushdown
    and pruning on other columns are unaffected.

    Single-file reads pin the schema from the parquet footer (driver-side
    pyarrow) so constructing the scan fires NO Spark job — schema
    inference otherwise launches a footer-reading job per query. Directory
    reads keep Spark's inference: hive-partitioned layouts carry partition
    columns in the paths, which footers can't see."""
    import os

    if os.path.isfile(path):
        schema, naive_ts = _footer_schema(path)
        if naive_ts:
            # same deliberate session-wide UTC pin (and rationale) as
            # normalize_ntz: the raw epoch micros must render as UTC wall
            # clock to stay value-identical to DuckDB's naive read
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.schema(schema).parquet(path)
    else:
        df = normalize_ntz(spark.read.parquet(path))
    if columns:
        df = df.select(*columns)
    # tag the scan's on-disk byte size (r12): operators.scale's partition
    # helpers read it (directly or via src_bytes_hint at derived call
    # sites) to estimate the scan's split count driver-side instead of
    # probing df.rdd — which runs a throwaway physical-planning pass per
    # query construction. Metadata only; derived DataFrames drop the tag.
    try:
        df._pipes_src_bytes = _path_bytes(path)
    except OSError:
        pass
    return df


def _parquet_files(path: str) -> list[str]:
    """The parquet files a scan of ``path`` reads: the file itself, or every
    ``*.parquet`` under the directory, hive partition subdirectories
    included, sorted. Names starting with ``_`` or ``.`` (``_SUCCESS``,
    ``_temporary``, ``.crc`` checksums) are skipped, as Spark's file index
    skips them."""
    import os

    if not os.path.isdir(path):
        return [path]
    hidden = ("_", ".")
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(hidden)]
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(hidden)
        ]
    return sorted(out)


def _path_bytes(path: str) -> int:
    """Total on-disk bytes of a parquet file or directory of part files
    (driver-side ``os.path.getsize``, no Spark call)."""
    import os

    return sum(os.path.getsize(f) for f in _parquet_files(path))


def parquet_row_count(path: str) -> int:
    """Exact row count from parquet FOOTERS — a driver-side pyarrow
    metadata read that touches no data pages and fires no Spark job.

    The scale-aware operators that need a corpus size to shape their plan
    (block grids, shard math) take it as a parameter; this is the standard
    way for a caller to supply it without an eager ``df.count()`` at
    construction time (CLAUDE.md "no eager actions" rule). Accepts a file
    or a directory of part files."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def parquet_list_width(path: str, column: str) -> Optional[int]:
    """Width of a fixed-width list/array column, read from the first
    non-null value of the first data page — driver-side pyarrow, no Spark
    job. Embeddings tables are fixed-width by construction, so one value
    determines the dimension. Returns None if the file has no non-null
    value (caller falls back to its in-Spark probe)."""
    import pyarrow.parquet as pq

    for f in _parquet_files(path):
        for batch in pq.ParquetFile(f).iter_batches(batch_size=64, columns=[column]):
            col = batch.column(0)
            for v in col:
                if v.is_valid:
                    return len(v)
    return None


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True, **options) -> DataFrame:
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_avro(spark: SparkSession, path: str, **options) -> DataFrame:
    """Avro container file(s) via the engine's pure-Python split-parallel
    DataSource (sources.avro — implemented from the public Avro 1.11
    spec; this environment has no spark-avro jar). Accepts
    ``reader_schema`` / ``split_target_bytes``; the jar-based
    ``format("avro")`` reader is the drop-in swap at real scale."""
    from .avro import read_avro as _ra

    return _ra(spark, path, **options)


def read_text(spark: SparkSession, paths, with_file_name: bool = True) -> DataFrame:
    """Text-file scan: one row per line. With ``with_file_name`` the result
    matches the reference's ``FileLine{FileName, Line}`` shape
    (ref: tutorial/minigrep/minigrep.go:13-20,65-85)."""
    df = spark.read.text(paths)
    if with_file_name:
        df = df.select(F.input_file_name().alias("file_name"), F.col("value").alias("line"))
    return df


def from_rows(spark: SparkSession, rows: Iterable, schema) -> DataFrame:
    """In-memory literal source (ref: pipe/bypass_test.go:38-42)."""
    return spark.createDataFrame(list(rows), schema)


def counter(spark: SparkSession, from_: int, to: int, column: str = "n") -> DataFrame:
    """Emit integers from..to inclusive (ref: Counter, pipe/node_test.go:383-389)."""
    return spark.range(from_, to + 1).withColumnRenamed("id", column)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver's synthetic tables (TESTDATA.md)."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, names: Optional[Sequence[str]] = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TPCH_TABLES)}


# user-defined generator sources (Spark 4 Python DataSource API — the
# Start-node analog for arbitrary user generators, pipe/node.go:12-14)
from pipes_spark.sources.generator import (  # noqa: E402,F401
    generator_source,
    stream_function_sink,
    stream_generator_source,
)
