"""Framework-semantics tests — ports of the reference's test patterns
(SURVEY.md §5): end-to-end graphs with golden collected output, bypass
splicing, provider failure aborting build, override last-wins, nil-node
tolerance, fan-in/fan-out diamond."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipes_spark import (
    BuildError,
    Bypass,
    Final,
    GraphError,
    IgnoreFinal,
    IgnoreStart,
    Middle,
    NodesMap,
    Pipeline,
    SchemaMismatchError,
    Start,
)


def ints_source(*values):
    def fn(spark):
        return spark.createDataFrame([(v,) for v in values], "n long")

    return fn


def counter(from_, to):
    """Ref: Counter emits from..to (pipe/node_test.go:383-389)."""

    def fn(spark):
        return spark.range(from_, to + 1).withColumnRenamed("id", "n")

    return fn


def collect_ns(df):
    return sorted(r["n"] for r in df.collect())


class Line(NodesMap):
    src = Start()
    mid = Middle()
    sink = Final()

    def connect(self):
        self.src.send_to(self.mid)
        self.mid.send_to(self.sink)


class Diamond(NodesMap):
    """Two sources fan into one middle, which fans out to two finals.
    Port of the odd/even diamond (ref: pipe/node_test.go:17-77)."""

    start1 = Start()
    start2 = Start()
    odds = Middle()
    evens = Middle()
    msg = Middle()
    collect1 = Final()
    collect2 = Final()

    def connect(self):
        self.start1.send_to(self.odds)
        self.start2.send_to(self.evens)
        self.odds.send_to(self.msg)
        self.evens.send_to(self.msg)
        self.msg.send_to(self.collect1, self.collect2)


def test_basic_line(spark):
    out = []
    p = Pipeline(Line, spark=spark)
    p.add_start("src", counter(1, 5))
    p.add_middle("mid", lambda df: df.filter(F.col("n") % 2 == 1))
    p.add_final("sink", lambda df: out.extend(collect_ns(df)))
    p.build().start().done()
    assert out == [1, 3, 5]


def test_diamond_fanin_fanout(spark):
    """Both finals observe every element, like the forker broadcast
    (ref: pipe/bypass_test.go:36-66 asserts both finals see {1,2,3})."""
    got1, got2 = [], []
    p = Pipeline(Diamond, spark=spark)
    p.add_start("start1", counter(1, 10))
    p.add_start("start2", counter(1, 10))
    p.add_middle("odds", lambda df: df.filter(F.col("n") % 2 == 1))
    p.add_middle("evens", lambda df: df.filter(F.col("n") % 2 == 0))
    p.add_middle(
        "msg",
        lambda df: df.select(
            F.format_string("%s: %d", F.when(F.col("n") % 2 == 1, "odd").otherwise("even"), "n"
                            ).alias("s")
        ),
    )
    p.add_final("collect1", lambda df: got1.extend(sorted(r["s"] for r in df.collect())))
    p.add_final("collect2", lambda df: got2.extend(sorted(r["s"] for r in df.collect())))
    r = p.build()
    assert sorted(r.sinks) == ["collect1", "collect2"]
    r.start().done()
    expected = sorted([f"odd: {n}" for n in range(1, 11, 2)] + [f"even: {n}" for n in range(2, 11, 2)])
    assert got1 == expected
    assert got2 == expected


def test_fan_in_keeps_duplicates(spark):
    """Fan-in is UNION ALL — duplicates kept (ref: connectors.go:8-41)."""
    out = []

    class TwoSrc(NodesMap):
        a = Start()
        b = Start()
        sink = Final()

        def connect(self):
            self.a.send_to(self.sink)
            self.b.send_to(self.sink)

    p = Pipeline(TwoSrc, spark=spark)
    p.add_start("a", ints_source(1, 2, 3))
    p.add_start("b", ints_source(3, 3))
    p.add_final("sink", lambda df: out.extend(collect_ns(df)))
    p.build().start().done()
    assert out == [1, 2, 3, 3, 3]


def test_bypass_middle_identity(spark):
    """A disabled middle passes elements through unchanged
    (ref: pipe/bypass_test.go:36-66)."""
    out = []
    p = Pipeline(Line, spark=spark)
    p.add_start("src", ints_source(1, 2, 3))
    p.add_middle("mid", Bypass())
    p.add_final("sink", lambda df: out.extend(collect_ns(df)))
    p.build().start().done()
    assert out == [1, 2, 3]


def test_unregistered_middle_is_bypass(spark):
    out = []
    p = Pipeline(Line, spark=spark)
    p.add_start("src", ints_source(7,))
    p.add_final("sink", lambda df: out.extend(collect_ns(df)))
    p.build().start().done()
    assert out == [7]


def test_nil_middle_with_type_change_fails():
    """A disabled middle whose declared IN/OUT schemas differ must abort the
    build (ref: pipe/builder.go:81-87, pipe/bypass_test.go:169-200)."""

    class Typed(NodesMap):
        src = Start()
        conv = Middle(in_schema="n long", out_schema="s string")
        sink = Final()

        def connect(self):
            self.src.send_to(self.conv)
            self.conv.send_to(self.sink)

    p = Pipeline(Typed)
    p.add_start("src", ints_source(1))
    p.add_middle("conv", Bypass())
    p.add_final("sink", lambda df: df.collect())
    with pytest.raises(SchemaMismatchError, match="MiddleFunc"):
        p.build()


def test_provider_error_aborts_build(spark):
    """Any provider error aborts Build (ref: pipe/builder_test.go:24-61)."""

    def bad_provider():
        raise ValueError("invalid regex")

    p = Pipeline(Line, spark=spark)
    p.add_start("src", ints_source(1))
    p.add_middle_provider("mid", bad_provider)
    p.add_final("sink", lambda df: df.collect())
    with pytest.raises(BuildError, match="invalid regex"):
        p.build()


def test_provider_returning_none_disables(spark):
    """Provider returning None ⇒ middle becomes a bypass, start/final inert
    (ref: pipe/node_test.go:225-251)."""
    out = []
    p = Pipeline(Line, spark=spark)
    p.add_start("src", ints_source(5, 6))
    p.add_middle_provider("mid", lambda: None)
    p.add_final("sink", lambda df: out.extend(collect_ns(df)))
    p.build().start().done()
    assert out == [5, 6]


def test_ignored_start_contributes_nothing(spark):
    """A disabled start is silently inert; fan-in sees only live sources
    (ref: pipe/node.go:163-169, test pipe/node_test.go:208-251)."""
    out = []

    class TwoSrc(NodesMap):
        a = Start()
        b = Start()
        sink = Final()

        def connect(self):
            self.a.send_to(self.sink)
            self.b.send_to(self.sink)

    p = Pipeline(TwoSrc, spark=spark)
    p.add_start("a", ints_source(1, 2))
    p.add_start_provider("b", lambda: IgnoreStart())
    p.add_final("sink", lambda df: out.extend(collect_ns(df)))
    p.build().start().done()
    assert out == [1, 2]


def test_ignored_final_runs_nothing(spark):
    out = []
    p = Pipeline(Line, spark=spark)
    p.add_start("src", ints_source(1))
    p.add_final("sink", IgnoreFinal())
    r = p.build()
    assert r.sinks == []
    r.start().done()
    assert out == []


def test_override_last_write_wins(spark):
    """Re-adding a node to the same field replaces it
    (ref: pipe/builder.go:21-28, pipe/node_test.go:267-381)."""
    out = []
    p = Pipeline(Line, spark=spark)
    p.add_start("src", ints_source(1, 2, 3))
    p.add_middle("mid", lambda df: df.select((F.col("n") * 10).alias("n")))
    p.add_middle("mid", lambda df: df.select((F.col("n") * 100).alias("n")))
    p.add_final("sink", lambda df: out.extend(collect_ns(df)))
    p.build().start().done()
    assert out == [100, 200, 300]


def test_fan_in_schema_mismatch_fails(spark):
    class TwoSrc(NodesMap):
        a = Start()
        b = Start()
        sink = Final()

        def connect(self):
            self.a.send_to(self.sink)
            self.b.send_to(self.sink)

    p = Pipeline(TwoSrc, spark=spark)
    p.add_start("a", ints_source(1))
    p.add_start("b", lambda s: s.createDataFrame([("x",)], "s string"))
    p.add_final("sink", lambda df: df.collect())
    with pytest.raises(SchemaMismatchError, match="fan-in"):
        p.build()


def test_cycle_detection(spark):
    class Loop(NodesMap):
        src = Start()
        a = Middle()
        b = Middle()
        sink = Final()

        def connect(self):
            self.src.send_to(self.a)
            self.a.send_to(self.b)
            self.b.send_to(self.a)
            self.a.send_to(self.sink)

    p = Pipeline(Loop, spark=spark)
    p.add_start("src", ints_source(1))
    p.add_middle("a", lambda df: df)
    p.add_middle("b", lambda df: df)
    p.add_final("sink", lambda df: df.collect())
    with pytest.raises(GraphError, match="cycle"):
        p.build()


def test_edge_into_start_rejected(spark):
    class Bad(NodesMap):
        a = Start()
        b = Start()
        sink = Final()

        def connect(self):
            self.a.send_to(self.b)

    p = Pipeline(Bad, spark=spark)
    p.add_start("a", ints_source(1))
    p.add_start("b", ints_source(2))
    p.add_final("sink", lambda df: df.collect())
    with pytest.raises(GraphError, match="start"):
        p.build()


def test_unknown_field_rejected(spark):
    p = Pipeline(Line, spark=spark)
    with pytest.raises(GraphError, match="unknown node field"):
        p.add_start("nope", ints_source(1))


def test_runner_results_and_context_manager(spark):
    p = Pipeline(Line, spark=spark)
    p.add_start("src", counter(1, 4))
    p.add_middle("mid", lambda df: df.filter(F.col("n") > 2))
    p.add_final("sink", lambda df: df.count())
    r = p.build()
    with r:
        pass
    assert r.results == {"sink": 2}


def test_declared_out_schema_validated(spark):
    class Typed(NodesMap):
        src = Start(out_schema="n long")
        sink = Final()

        def connect(self):
            self.src.send_to(self.sink)

    p = Pipeline(Typed, spark=spark)
    p.add_start("src", lambda s: s.createDataFrame([("oops",)], "s string"))
    p.add_final("sink", lambda df: df.collect())
    with pytest.raises(SchemaMismatchError, match="out_schema"):
        p.build()


def test_minigrep_slice(spark, sf_dir):
    """SURVEY §7.0 minimum slice: regex-filter pipeline over events with a
    provider that validates the pattern at build time
    (ref: tutorial/minigrep/minigrep.go:91-105,117-144)."""
    import re

    class Grep(NodesMap):
        reader = Start()
        matcher = Middle()
        formatter = Middle()
        sink = Final()

        def connect(self):
            self.reader.send_to(self.matcher)
            self.matcher.send_to(self.formatter)
            self.formatter.send_to(self.sink)

    def match_provider(pattern):
        def provider():
            re.compile(pattern)  # invalid pattern aborts the build
            return lambda df: df.filter(F.col("event_type").rlike(pattern))

        return provider

    from pipes_spark.sources import load_table

    out = []
    p = Pipeline(Grep, spark=spark)
    p.add_start("reader", lambda s: load_table(s, sf_dir, "events"))
    p.add_middle_provider("matcher", match_provider("^(click|view)$"))
    p.add_middle(
        "formatter",
        lambda df: df.select(F.format_string("%s:%d", "event_type", "event_id").alias("line")),
    )
    p.add_final("sink", lambda df: out.append(df.count()))
    p.build().start().done()
    assert out and out[0] > 0

    # invalid regex → BuildError, nothing runs
    p2 = Pipeline(Grep, spark=spark)
    p2.add_start("reader", lambda s: load_table(s, sf_dir, "events"))
    p2.add_middle_provider("matcher", match_provider("[unclosed"))
    p2.add_final("sink", lambda df: df.collect())
    with pytest.raises(BuildError):
        p2.build()


def test_fanout_shared_subplan_computes_once(spark):
    """Single-pass fan-out: the shared middle's work must run exactly once
    even with two concurrent sinks (pipes' forker pushes each computed
    element once — ref: pipe/internal/connect/connectors.go:57-90). The
    runner materializes the persisted subplan before launching sinks."""
    acc = spark.sparkContext.accumulator(0)

    def counted(v):
        acc.add(1)
        return v

    count_udf = F.udf(counted, "long")

    class G(NodesMap):
        src = Start()
        shared = Middle()
        a = Final()
        b = Final()

        def connect(self):
            self.src.send_to(self.shared)
            self.shared.send_to(self.a, self.b)

    p = Pipeline(G, spark=spark)
    p.add_start("src", ints_source(*range(1, 11)))
    p.add_middle("shared", lambda df: df.select(count_udf("n").alias("n")))
    p.add_final("a", lambda df: df.count())
    p.add_final("b", lambda df: sum(r.n for r in df.collect()))
    res = p.build().start().done()
    assert res == {"a": 10, "b": 55}
    assert acc.value == 10  # not 20: the UDF ran one pass, sinks read cache


def test_fanout_disk_storage_level(spark):
    """fanout_storage='disk' pins the shared subplan at DISK_ONLY — the
    100 TB-safe level (no storage-memory pressure from a huge intermediate)."""
    from pyspark import StorageLevel

    captured = {}

    class G(NodesMap):
        src = Start()
        shared = Middle()
        a = Final()
        b = Final()

        def connect(self):
            self.src.send_to(self.shared)
            self.shared.send_to(self.a, self.b)

    p = Pipeline(G, spark=spark, fanout_storage="disk")
    p.add_start("src", ints_source(1, 2, 3))
    p.add_middle("shared", lambda df: df.select((F.col("n") * 2).alias("n")))

    def capture(df):
        captured["level"] = df.storageLevel
        return df.count()

    p.add_final("a", capture)
    p.add_final("b", lambda df: df.count())
    p.build().start().done()
    assert captured["level"] == StorageLevel.DISK_ONLY

    with pytest.raises(GraphError):
        Pipeline(G, spark=spark, fanout_storage="tape")


def test_done_timeout_keeps_fanout_running(spark):
    """``done(timeout)`` is one deadline: when it passes, the runner raises
    without tearing anything down — the shared fan-out cache stays
    persisted while a slow sink still reads it, and a later ``done()``
    collects every sink's result."""
    import threading

    from pyspark import StorageLevel

    release = threading.Event()
    captured = {}

    class G(NodesMap):
        src = Start()
        shared = Middle()
        fast = Final()
        slow = Final()

        def connect(self):
            self.src.send_to(self.shared)
            self.shared.send_to(self.fast, self.slow)

    def slow(df):
        captured["df"] = df
        release.wait(60)
        return df.count()

    p = Pipeline(G, spark=spark)
    p.add_start("src", ints_source(1, 2, 3))
    p.add_middle("shared", lambda df: df.select((F.col("n") * 2).alias("n")))
    p.add_final("fast", lambda df: sum(r.n for r in df.collect()))
    p.add_final("slow", slow)
    r = p.build().start()
    with pytest.raises(TimeoutError):
        r.done(timeout=0.5)
    assert captured["df"].storageLevel != StorageLevel.NONE  # still held
    release.set()
    assert r.done(timeout=60) == {"fast": 12, "slow": 3}
    assert captured["df"].storageLevel == StorageLevel.NONE  # released at the end
