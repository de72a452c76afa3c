"""Session factory: the environment the gateway JVM is launched with."""

from __future__ import annotations

import os

from pipes_spark.session import get_spark, jvm_launch_env


def test_jvm_launch_env_caps_malloc_arenas_without_mutating_input():
    env = {"PATH": "/bin", "PYTHONPATH": "/x"}
    out = jvm_launch_env(env)
    assert out == {"PATH": "/bin", "PYTHONPATH": "/x", "MALLOC_ARENA_MAX": "2"}
    assert env == {"PATH": "/bin", "PYTHONPATH": "/x"}  # pure: input untouched


def test_jvm_launch_env_keeps_callers_arena_cap():
    assert jvm_launch_env({"MALLOC_ARENA_MAX": "8"})["MALLOC_ARENA_MAX"] == "8"


def test_session_jvm_and_workers_carry_arena_cap(spark):
    """The JVM the session fixture launched (and the Python workers it
    forks) run with the cap, while the driver's own environment never
    gained the key: ``get_spark`` removes what it added after the launch,
    and a call against the running JVM changes nothing."""
    expected = os.environ.get("MALLOC_ARENA_MAX", "2")
    assert spark._jvm.System.getenv("MALLOC_ARENA_MAX") == expected
    worker = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("os").environ.get("MALLOC_ARENA_MAX"))
        .collect()
    )
    assert worker == [expected]

    before = dict(os.environ)
    # the fixture's own arguments, so re-applying them to the running
    # session's conf is a no-op
    again = get_spark(
        "pipes_spark_tests",
        shuffle_partitions=4,
        extra_conf={"spark.sql.ui.retainedExecutions": "100000"},
    )
    assert again is spark
    assert dict(os.environ) == before


def test_session_fixed_confs(spark):
    """The state store, its changelog checkpointing, the driver memory and
    the DataFrame call-site capture are fixed values of the factory (a
    caller changes them through ``extra_conf``)."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.streaming.stateStore.providerClass") == (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    assert (
        conf.get("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
        == "true"
    )
    assert conf.get("spark.driver.memory") == "8g"
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
