"""Source/sink round-trips through the Pipeline framework (SURVEY.md §2.C
scans/sinks rows)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pipes_spark import Final, NodesMap, Pipeline, Start
from pipes_spark.sinks import (
    collect_rows,
    count_rows,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
)
from pipes_spark.sources import counter, from_rows, load_table, read_csv, read_json, read_text


class SrcSink(NodesMap):
    src = Start()
    sink = Final()

    def connect(self):
        self.src.send_to(self.sink)


def run_pipeline(spark, start_fn, sink_fn):
    p = Pipeline(SrcSink, spark=spark)
    p.add_start("src", start_fn)
    p.add_final("sink", sink_fn)
    return p.build().start().done()["sink"]


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_write_read_roundtrip(spark, sf_dir, fmt, tmp_path):
    src = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / f"nation_{fmt}")
    sink = {
        "parquet": write_parquet(out),
        "csv": write_csv(out),
        "json": write_json(out),
        "orc": write_orc(out),
    }[fmt]
    run_pipeline(spark, lambda s: src, sink)
    if fmt == "parquet":
        back = spark.read.parquet(out)
    elif fmt == "orc":
        back = spark.read.orc(out)
    elif fmt == "csv":
        back = read_csv(spark, out, schema=src.schema)
    else:
        back = read_json(spark, out, schema=src.schema)
    assert back.count() == src.count()
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in src.collect()
    )


def test_partitioned_parquet_write(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_part")
    run_pipeline(
        spark, lambda s: src, write_parquet(out, partition_by=["o_orderstatus"], target_files=2)
    )
    # hive-style partition dirs exist -> downstream readers get pruning
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    pruned = back.filter(F.col("o_orderstatus") == "O")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert back.filter(F.col("o_orderstatus") == "O").count() == src.filter(
        "o_orderstatus = 'O'"
    ).count()


def test_partitioned_parquet_dir_reports_its_size(spark, sf_dir, tmp_path):
    """A hive-partitioned directory holds its part files one level down:
    the footer helpers and read_parquet's byte tag must count them (a
    top-level-only listing reads 0 bytes and 0 rows, and the partition
    helpers then shuffle an input that already has many splits)."""
    from pipes_spark.sources import (
        _path_bytes,
        parquet_list_width,
        parquet_row_count,
        read_parquet,
    )

    src = load_table(spark, sf_dir, "embeddings")
    out = str(tmp_path / "emb_by_label")
    src.write.partitionBy("label").parquet(out)
    parts = [
        os.path.join(root, f)
        for root, _, files in os.walk(out)
        for f in files
        if f.endswith(".parquet")
    ]
    assert parts and all(os.path.dirname(f) != out for f in parts)
    assert _path_bytes(out) == sum(os.path.getsize(f) for f in parts) > 0
    assert read_parquet(spark, out)._pipes_src_bytes == _path_bytes(out)
    assert parquet_row_count(out) == src.count()
    assert parquet_list_width(out, "embedding") == len(src.first()["embedding"])


def test_collect_and_count_sinks(spark):
    rows = run_pipeline(spark, lambda s: counter(s, 1, 5), collect_rows)
    assert sorted(r.n for r in rows) == [1, 2, 3, 4, 5]
    n = run_pipeline(spark, lambda s: counter(s, 1, 5), count_rows)
    assert n == 5


def test_read_text_file_lines(spark, tmp_path):
    """minigrep's FileLine shape (ref: tutorial/minigrep/minigrep.go:13-20)."""
    f = tmp_path / "a.txt"
    f.write_text("hello world\nsecond line\n")
    df = read_text(spark, str(f))
    rows = df.collect()
    assert [f.name for f in df.schema] == ["file_name", "line"]
    assert sorted(r.line for r in rows) == ["hello world", "second line"]
    assert all(r.file_name.endswith("a.txt") for r in rows)


def test_from_rows(spark):
    df = from_rows(spark, [(1, "a"), (2, "b")], "id long, s string")
    assert df.count() == 2


def test_compact_parquet_hits_target_file_count(spark, sf_dir, tmp_path):
    """Compaction sizes output files from true on-disk bytes: a source
    fragmented into many small files comes back as ~target-sized files."""
    import glob

    from pipes_spark.sinks import compact_parquet
    from pipes_spark.sources import load_table

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(64).write.parquet(src)  # the small-file incident
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    src_bytes = sum(
        __import__("os").path.getsize(f) for f in glob.glob(f"{src}/part-*.parquet")
    )
    target_mb = max(1, int(src_bytes / 2 / 1024 / 1024))  # aim for ~2 files
    n = compact_parquet(spark, src, dst, target_file_mb=target_mb)
    out = glob.glob(f"{dst}/part-*.parquet")
    assert len(out) == n <= 4
    assert spark.read.parquet(dst).count() == li.count()


def test_generator_source_parallel_batch(spark):
    from pyspark.sql import functions as F

    from pipes_spark.sources import generator_source

    def gen(p):
        for i in range(p * 100, (p + 1) * 100):
            yield (i, i * i)

    df = generator_source(spark, gen, "i long, sq long", num_partitions=4)
    assert df.count() == 400
    # each registered partition runs as its own task (executor-side fan-out)
    assert df.select(F.spark_partition_id()).distinct().count() == 4
    expected = spark.range(400).select(
        F.col("id").alias("i"), (F.col("id") * F.col("id")).alias("sq")
    )
    assert df.exceptAll(expected).count() == 0 and expected.exceptAll(df).count() == 0


def test_stream_generator_source_advances_offsets(spark):
    import time
    import uuid

    from pipes_spark.sources import stream_generator_source

    def sgen(lo, hi):
        return [(i, i % 7) for i in range(lo, hi)]

    sdf = stream_generator_source(
        spark, sgen, "i long, m long", rows_per_batch=50, max_offset=200
    )
    name = f"gen_stream_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 200:
                break
            time.sleep(0.5)
        rows = spark.table(name).collect()
    finally:
        q.stop()
    # the capped stream drains exactly once across multiple micro-batches
    assert sorted(r.i for r in rows) == list(range(200))


def test_zordered_write_bounds_every_dimension(spark, sf_dir, tmp_path):
    """The Z-order layout's contract: every file's footer min/max must cover
    a narrow range in EACH clustered dimension, so a point/box query on any
    of them prunes most files — unlike single-column clustering, which
    leaves the other dimensions spanning the whole domain per file."""
    import pyarrow.parquet as pq

    from pipes_spark.sinks import write_zordered
    from pipes_spark.sources import load_table

    out = str(tmp_path / "zordered")
    li = load_table(spark, sf_dir, "lineitem")
    write_zordered(out, ["l_orderkey", "l_partkey"], num_files=16)(li)

    def file_ranges(col):
        ranges = []
        for f in sorted((tmp_path / "zordered").glob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
            stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
            ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
        return ranges

    ranges = {c: file_ranges(c) for c in ("l_orderkey", "l_partkey")}
    n_files = len(ranges["l_orderkey"])
    assert n_files >= 8
    for c, rs in ranges.items():
        glo = min(lo for lo, _ in rs)
        ghi = max(hi for _, hi in rs)
        spans = sorted((hi - lo) / (ghi - glo) for lo, hi in rs)
        # median file covers a narrow slice of THIS dimension too
        assert spans[n_files // 2] <= 0.5, (c, spans)
    # a box query over the lowest quarter of both dims overlaps few files
    boxed = 0
    for (alo, ahi), (blo, bhi) in zip(ranges["l_orderkey"], ranges["l_partkey"]):
        a_glo = min(lo for lo, _ in ranges["l_orderkey"])
        a_ghi = max(hi for _, hi in ranges["l_orderkey"])
        b_glo = min(lo for lo, _ in ranges["l_partkey"])
        b_ghi = max(hi for _, hi in ranges["l_partkey"])
        a_cut = a_glo + (a_ghi - a_glo) / 4
        b_cut = b_glo + (b_ghi - b_glo) / 4
        boxed += alo <= a_cut and blo <= b_cut
    assert boxed <= n_files // 2  # random layout: every file overlaps
    assert spark.read.parquet(out).count() == li.count()


def test_clustered_write_produces_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """The clustered layout's contract — every file covers a narrow,
    non-overlapping key range — verified from the parquet footers
    (min/max statistics), which is exactly the metadata readers prune by."""
    import pyarrow.parquet as pq

    from pipes_spark.sinks import write_clustered
    from pipes_spark.sources import load_table

    out = str(tmp_path / "clustered")
    li = load_table(spark, sf_dir, "lineitem")
    write_clustered(out, ["l_orderkey"], num_files=8)(li)

    ranges = []
    for f in sorted((tmp_path / "clustered").glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_orderkey"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # range partitioner actually split the keyspace
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: pruning can skip whole files
    # round-trip intact
    assert spark.read.parquet(out).count() == li.count()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a column added mid-stream must be readable across
    old and new files with mergeSchema (NULL for pre-evolution rows) —
    the 100 TB reality of years-long table lifetimes."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(p + "/batch=0")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(p + "/batch=1")
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) >= {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None  # pre-evolution rows read as NULL
    assert rows[2]["score"] == 9.5


def test_read_parquet_sees_file_rewritten_in_place(spark, tmp_path):
    """A single-file read pins its schema from the parquet footer; a file
    rewritten in place within the same process must be read with its NEW
    schema, not the one cached from the first read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pipes_spark.sources import read_parquet

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": [10, 20]}), p)
    assert read_parquet(spark, p).columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3], "c": ["x"]}), p)
    st = os.stat(p)
    # a coarse-clock filesystem could stamp both writes alike
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    df = read_parquet(spark, p)
    assert df.columns == ["a", "c"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_stream_function_sink_partition_parallel_exactly_once(spark, tmp_path):
    """DataSourceStreamWriter sink: the user fn runs per partition of each
    micro-batch on executors, sees distinct batch ids across triggers, and
    the committed stream delivers every row exactly once."""
    import glob as _glob
    import json
    import uuid as _uuid

    from pipes_spark.sources.generator import stream_function_sink

    src = tmp_path / "sfs_src"
    src.mkdir()
    for i, lo in enumerate([0, 100]):
        spark.range(lo, lo + 100).coalesce(1).write.parquet(str(tmp_path / f"sb{i}"))
        part = next(
            p for p in (tmp_path / f"sb{i}").iterdir() if p.name.endswith(".parquet")
        )
        (src / f"{i:03d}.parquet").symlink_to(part)
    out = tmp_path / "sfs_out"
    out.mkdir()

    def sink(batch_id, rows):
        path = out / f"b{batch_id}-{_uuid.uuid4().hex}.jsonl"
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps({"id": r[0]}) + "\n")

    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    stream_function_sink(
        stream.repartition(4, "id"), sink, str(tmp_path / "sfs_ckpt")
    )
    files = sorted(_glob.glob(str(out / "*.jsonl")))
    ids, batch_ids = [], set()
    for p in files:
        batch_ids.add(os.path.basename(p).split("-")[0])
        with open(p) as f:
            ids += [json.loads(line)["id"] for line in f]
    assert sorted(ids) == list(range(200))  # exactly once, nothing lost
    assert batch_ids == {"b0", "b1"}  # per-trigger batch ids visible to fn
