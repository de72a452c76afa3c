"""The workloads: request lists, graphs, and output checks.

``relational`` runs declared queries from ``pipes_spark.catalog`` and checks
each against its DuckDB oracle. ``pipelines`` runs graphs modelled on
``examples/`` through ``Pipeline(...) → build() → start() → done()`` and
checks each sink against DuckDB SQL over the same inputs or a stated
invariant.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from tools.check_oracle import frame_to_rows, norm_cell  # the oracle gate's comparison rule

#: An odd number of request types puts the median of the pooled warm
#: latencies inside one type's samples, not on the edge between two.
RELATIONAL = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q18_large_volume",
    "subquery_exists",
]
PIPELINES = ["fanout_sessions", "fanin_bypass", "bucketed_writes", "stream_totals"]

STREAM_FILES = 8
STREAM_FILES_PER_TRIGGER = 4


@dataclass
class Ctx:
    """Everything a request needs; one per run."""

    spark: Any
    sf_dir: str
    run_dir: str
    cores: int
    tracer: Any
    reader: Any = None  # StatusReader while a traced sweep runs
    group: str = ""
    sink_wall: float = 0.0
    stream_queries: list = field(default_factory=list)
    cached_mb: float = 0.0
    lock: threading.Lock = field(default_factory=threading.Lock)

    def set_group(self, group: str) -> None:
        self.group = group
        self.spark.sparkContext.setJobGroup(group, group)

    def out_dir(self, *parts: str) -> str:
        return os.path.join(self.run_dir, "out", self.group.replace(":", "_"), *parts)


# ---------------------------------------------------------------------------
# output digests
# ---------------------------------------------------------------------------

def digest(table: pa.Table) -> tuple:
    """Order-insensitive fingerprint of a result: row count, column names
    and the wrapping sum of 64-bit per-row hashes. Two results with the
    same multiset of rows have the same digest."""
    cols = sorted(table.column_names)
    pdf = table.select(cols).to_pandas()
    for c in cols:
        if pa.types.is_list(table.schema.field(c).type) or pa.types.is_struct(
            table.schema.field(c).type
        ):
            pdf[c] = pdf[c].map(lambda v: repr(norm_cell(v)))
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy(dtype=np.uint64)
    return table.num_rows, tuple(cols), int(h.sum(dtype=np.uint64))


def duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in datagen.TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
    return con


# ---------------------------------------------------------------------------
# declared-query requests
# ---------------------------------------------------------------------------

def run_query(ctx: Ctx, name: str) -> pa.Table:
    """One declared query: build its DataFrame, then run the action that
    returns its rows. Traced, the physical plan is forced between the two
    so Catalyst's share is timed on its own."""
    from pipes_spark.catalog import QUERIES

    with ctx.tracer.span("catalog.construct", ctx.group):
        df = QUERIES[name].fn(ctx.spark, ctx.sf_dir)
    if ctx.tracer.enabled:
        with ctx.tracer.span("catalyst.plan", ctx.group):
            df._jdf.queryExecution().executedPlan()
    with ctx.tracer.span("scheduler.action", ctx.group):
        return df.toArrow()


def oracle_rows(con, name: str) -> tuple[list, list]:
    from pipes_spark.catalog import QUERIES

    return frame_to_rows(con.sql(QUERIES[name].oracle).df())


def check_queries(con, first: dict, samples: list[dict]) -> dict[int, bool]:
    """Verdict per sample index: the first result of each query must equal
    its DuckDB oracle, and every result must equal that first one."""
    reference = {}
    for name, table in first.items():
        same = frame_to_rows(table.to_pandas()) == oracle_rows(con, name)
        reference[name] = digest(table) if same else None
    return {
        i: reference.get(s["name"]) is not None and s["out"] == reference[s["name"]]
        for i, s in enumerate(samples)
        if s["out"] is not None
    }


# ---------------------------------------------------------------------------
# pipeline requests
# ---------------------------------------------------------------------------

def _sink(ctx: Ctx, name: str, fn: Callable) -> Callable:
    """Wrap a sink callable: Runner sink threads do not inherit the caller's
    job group, so the sink sets it; traced, it also records a span and its
    wall time."""
    group = ctx.group

    def sink(df):
        ctx.spark.sparkContext.setJobGroup(group, f"{group}:{name}")
        start = time.perf_counter()
        with ctx.tracer.span(f"sink.{name}", group):
            result = fn(df)
        with ctx.lock:
            ctx.sink_wall += time.perf_counter() - start
        return result

    return sink


def run_graph(ctx: Ctx, make: Callable[[Ctx, dict], Any]) -> dict:
    """Declare, build, start and finish one graph. ``make`` declares the
    graph and returns the unbuilt ``Pipeline``; sinks write into ``out``."""
    out: dict = {}
    with ctx.tracer.span("pipeline.build", ctx.group):
        runner = make(ctx, out).build()
    with ctx.tracer.span("pipeline.start", ctx.group):
        runner.start()
    if ctx.reader is not None:
        ctx.cached_mb += ctx.reader.cached_mb()
    with ctx.tracer.span("pipeline.done", ctx.group):
        out["results"] = runner.done()
    return out


def fanout_sessions(ctx: Ctx, out: dict):
    """product_analytics shape: sessionized events fan out to two sinks
    through a persisted shared subplan."""
    from pyspark.sql import functions as F

    from pipes_spark import Final, Middle, NodesMap, Pipeline, Start
    from pipes_spark.operators.relational import sessionize
    from pipes_spark.sources import load_table

    class Sessions(NodesMap):
        events = Start()
        sessions = Middle()
        session_stats = Final()
        daily = Middle()
        daily_sink = Final()

        def connect(self):
            self.events.send_to(self.sessions)
            self.sessions.send_to(self.session_stats, self.daily)
            self.daily.send_to(self.daily_sink)

    p = Pipeline(Sessions, spark=ctx.spark)
    p.add_start("events", lambda s: load_table(s, ctx.sf_dir, "events"))
    p.add_middle(
        "sessions",
        lambda df: sessionize(df, "user_id", "ts", gap_seconds=1800, order_tiebreak="event_id"),
    )
    p.add_final("session_stats", _sink(ctx, "session_stats", lambda df: out.__setitem__(
        "sessions", df.select("user_id", "session_id").distinct().count())))
    p.add_middle(
        "daily",
        lambda df: df.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
            F.countDistinct("session_id").alias("n_sessions")
        ),
    )
    p.add_final("daily_sink", _sink(ctx, "daily_sink", lambda df: out.__setitem__("daily_rows", df.count())))
    return p


def check_fanout_sessions(con, out: dict, spark) -> bool:
    sessions = con.sql(
        """SELECT count(*) FROM (
             SELECT epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
             FROM events) WHERE gap IS NULL OR gap > 1800"""
    ).fetchone()[0]
    daily = con.sql("SELECT count(DISTINCT (user_id, date_trunc('day', ts))) FROM events").fetchone()[0]
    return out["sessions"] == sessions and out["daily_rows"] == daily


def fanin_bypass(ctx: Ctx, out: dict):
    """experiment_pipeline shape: two sources fan in, a middle whose
    provider disables it is bypassed, and the merged stream fans out to a
    per-type readout, a transition matrix and a per-user z-score that runs
    in Python workers (grouped-map ``applyInPandas``)."""
    from pyspark.sql import functions as F

    from pipes_spark import Final, Middle, NodesMap, Pipeline, Start
    from pipes_spark.operators.relational import path_transitions
    from pipes_spark.operators.udfs import grouped_zscore
    from pipes_spark.sources import load_table

    class FanIn(NodesMap):
        early = Start()
        late = Start()
        merged = Middle()
        gate = Middle()
        readout = Final()
        journeys = Middle()
        journeys_sink = Final()
        zscores = Middle()
        outliers = Final()

        def connect(self):
            self.early.send_to(self.merged)
            self.late.send_to(self.merged)
            self.merged.send_to(self.gate)
            self.gate.send_to(self.readout, self.journeys, self.zscores)
            self.journeys.send_to(self.journeys_sink)
            self.zscores.send_to(self.outliers)

    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    p = Pipeline(FanIn, spark=ctx.spark)
    p.add_start("early", lambda s: load_table(s, ctx.sf_dir, "events").filter(F.col("ts") < split))
    p.add_start("late", lambda s: load_table(s, ctx.sf_dir, "events").filter(F.col("ts") >= split))
    p.add_middle(
        "merged",
        lambda df: df.withColumn("variant", F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")),
    )
    p.add_middle_provider("gate", lambda: None)
    p.add_final("readout", _sink(ctx, "readout", lambda df: out.__setitem__("readout", sorted(
        tuple(r) for r in df.groupBy("event_type", "variant").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        ).collect()))))
    p.add_middle("journeys", lambda df: path_transitions(df, "user_id", "ts", "event_type", "event_id"))
    p.add_final("journeys_sink", _sink(ctx, "journeys_sink", lambda df: out.__setitem__(
        "transitions", df.agg(F.sum("n")).collect()[0][0])))
    p.add_middle("zscores", lambda df: grouped_zscore(df.select("user_id", "event_id", "value")))
    p.add_final("outliers", _sink(ctx, "outliers", lambda df: out.__setitem__("zscores", tuple(
        df.agg(F.count(F.lit(1)), F.sum((F.abs("zscore") > 3).cast("int"))).collect()[0]))))
    return p


def check_fanin_bypass(con, out: dict, spark) -> bool:
    readout = sorted(
        (t, v, n, total)
        for t, v, n, total in con.sql(
            """SELECT event_type, CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
                      count(*), sum(CAST(value AS DECIMAL(18,2)))
               FROM events GROUP BY 1, 2"""
        ).fetchall()
    )
    # every event but each user's first is the target of one transition
    steps = con.sql("SELECT count(*) - count(DISTINCT user_id) FROM events").fetchone()[0]
    # the z-score rule of the declared udf_grouped_zscore query's oracle
    zscores = con.sql(
        """SELECT count(*), sum(CASE WHEN sd > 0 AND abs(round((value - mu) / sd, 6)) > 3
                                     THEN 1 ELSE 0 END)
           FROM (SELECT value, avg(value) OVER (PARTITION BY user_id) AS mu,
                        stddev_samp(value) OVER (PARTITION BY user_id) AS sd FROM events)"""
    ).fetchone()
    return out["readout"] == readout and out["transitions"] == steps and out["zscores"] == tuple(zscores)


def bucketed_writes(ctx: Ctx, out: dict):
    """data_mixing shape: a bucketed (exchange-free) join of two warehouse
    tables writes a partitioned parquet sink while the documents branch
    writes deterministic training shards."""
    from pyspark.sql import functions as F

    from pipes_spark import Final, Middle, NodesMap, Pipeline, Start
    from pipes_spark.sinks import write_parquet, write_training_shards
    from pipes_spark.sources import load_table

    class Writes(NodesMap):
        facts = Start()
        priced = Middle()
        parquet_sink = Final()
        docs = Start()
        shards_sink = Final()

        def connect(self):
            self.facts.send_to(self.priced)
            self.priced.send_to(self.parquet_sink)
            self.docs.send_to(self.shards_sink)

    orders_path, shards_path = ctx.out_dir("orders_customers"), ctx.out_dir("shards")
    out["paths"] = [orders_path, shards_path]

    def facts(spark):
        with ctx.tracer.span("warehouse.read", ctx.group):
            orders, customers = warehouse_tables(spark, ctx.sf_dir, ctx.cores)
        return orders.join(customers, F.col("o_custkey") == F.col("c_custkey"))

    p = Pipeline(Writes, spark=ctx.spark)
    p.add_start("facts", facts)
    p.add_middle("priced", lambda df: df.select(
        "o_orderkey", "o_orderpriority", "c_mktsegment",
        (F.col("o_totalprice") - F.col("c_acctbal")).cast("decimal(18,2)").alias("exposure"),
    ))
    p.add_final("parquet_sink", _sink(ctx, "parquet", write_parquet(orders_path, partition_by=["c_mktsegment"])))
    p.add_start("docs", lambda s: load_table(s, ctx.sf_dir, "documents").select("doc_id", "lang", "text"))
    p.add_final("shards_sink", _sink(ctx, "shards", write_training_shards(shards_path, "doc_id", 1000)))
    return p


def warehouse_tables(spark, sf_dir: str, n_buckets: int):
    """The warehouse artifacts the pipelines read: orders and customers,
    both bucketed on the customer key, created on first use."""
    from pipes_spark.warehouse import bucketed_table

    return (
        bucketed_table(spark, sf_dir, "orders", ["o_custkey"], n_buckets),
        bucketed_table(spark, sf_dir, "customer", ["c_custkey"], n_buckets),
    )


def check_bucketed_writes(con, out: dict, spark) -> bool:
    orders_path, shards_path = out["paths"]
    got = con.sql(
        f"""SELECT count(*), sum(exposure), count(DISTINCT c_mktsegment)
            FROM read_parquet('{orders_path}/*/*.parquet', hive_partitioning = true)"""
    ).fetchone()
    want = con.sql(
        """SELECT count(*), sum(CAST(o_totalprice - c_acctbal AS DECIMAL(18,2))), count(DISTINCT c_mktsegment)
           FROM orders JOIN customer ON o_custkey = c_custkey"""
    ).fetchone()
    shard_sizes = sorted(
        n for (n,) in con.sql(
            f"""SELECT count(*) FROM read_parquet('{shards_path}/*/*.parquet', hive_partitioning = true)
                GROUP BY shard"""
        ).fetchall()
    )
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    return (
        tuple(got) == tuple(want)
        and sum(shard_sizes) == n_docs
        and shard_sizes.count(1000) == n_docs // 1000
    )


def stream_totals(ctx: Ctx, out: dict):
    """stream_portability / streaming_ingest shape: an availableNow file
    stream over the seeded event files, aggregated in RocksDB state, into a
    memory sink."""
    import uuid

    from pyspark.sql import functions as F

    from pipes_spark import Final, Middle, NodesMap, Pipeline, Start
    from pipes_spark.sources import load_table
    from pipes_spark.streaming import read_stream_parquet

    class Stream(NodesMap):
        source = Start()
        totals = Middle()
        sink = Final()

        def connect(self):
            self.source.send_to(self.totals)
            self.totals.send_to(self.sink)

    name = f"totals_{uuid.uuid4().hex[:10]}"
    checkpoint = ctx.out_dir("checkpoint")
    out["table"] = name

    def source_provider():
        schema = load_table(ctx.spark, ctx.sf_dir, "events").schema
        return lambda s: read_stream_parquet(
            s, stream_dir(), schema, max_files_per_trigger=STREAM_FILES_PER_TRIGGER
        )

    def start_query(df):
        q = (
            df.writeStream.format("memory").queryName(name).outputMode("complete")
            .option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
        )
        ctx.stream_queries.append(q)
        return q

    p = Pipeline(Stream, spark=ctx.spark)
    p.add_start_provider("source", source_provider)
    p.add_middle("totals", lambda df: df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("total")))
    p.add_final("sink", _sink(ctx, "stream", start_query))
    return p


def check_stream_totals(con, out: dict, spark) -> bool:
    got = sorted(tuple(r) for r in spark.table(out["table"]).collect())
    spark.catalog.dropTempView(out["table"])
    want = sorted(
        tuple(r) for r in con.sql(
            "SELECT event_type, count(*), sum(CAST(value AS DECIMAL(18,2))) FROM events GROUP BY 1"
        ).fetchall()
    )
    return got == want


def stream_dir() -> str:
    """Where the stream's input files live: under the Spark local dirs."""
    return os.path.join(os.environ["SPARK_LOCAL_DIRS"], "stream_input")


def write_stream_input(sf_dir: str) -> None:
    """Split the seeded events table into files the stream reads in
    several micro-batches."""
    path = stream_dir()
    os.makedirs(path, exist_ok=True)
    events = pq.read_table(f"{sf_dir}/events.parquet")
    step = math.ceil(events.num_rows / STREAM_FILES)
    for i in range(STREAM_FILES):
        pq.write_table(events.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


#: graph name → (declare, check). A check gets the DuckDB connection over
#: the run's inputs, the graph's outputs and the session.
GRAPHS: dict[str, tuple[Callable, Callable]] = {
    "fanout_sessions": (fanout_sessions, check_fanout_sessions),
    "fanin_bypass": (fanin_bypass, check_fanin_bypass),
    "bucketed_writes": (bucketed_writes, check_bucketed_writes),
    "stream_totals": (stream_totals, check_stream_totals),
}


def stream_progress(queries: list) -> dict[str, float]:
    """Per-layer streaming counters from ``StreamingQuery.recentProgress``."""
    keys = ("streaming.batches", "streaming.trigger_s", "streaming.planning_s",
            "streaming.commit_s", "streaming.state_commit_s", "streaming.state_rows")
    acc = dict.fromkeys(keys, 0.0)
    for q in queries:
        progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
        for p in progress:
            d = p.get("durationMs", {})
            acc["streaming.batches"] += 1
            acc["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            acc["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            acc["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            acc["streaming.state_commit_s"] += sum(
                op.get("commitTimeMs", 0) for op in p.get("stateOperators", [])
            ) / 1e3
        if progress:
            acc["streaming.state_rows"] += sum(
                op.get("numRowsTotal", 0) for op in progress[-1].get("stateOperators", [])
            )
    return acc


def dir_mb(paths: list[str]) -> float:
    return sum(
        os.path.getsize(f) for p in paths for f in glob.glob(f"{p}/**/*", recursive=True)
        if os.path.isfile(f)
    ) / (1024.0 * 1024.0)
