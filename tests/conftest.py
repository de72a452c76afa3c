from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from pipes_spark.session import get_spark

    # retainedExecutions defaults to 1000 and the status store EVICTS
    # completed executions past it — action_audit's exact deltas would
    # read ~0 once the suite accumulates enough executions; retain plenty
    s = get_spark(
        "pipes_spark_tests",
        shuffle_partitions=4,
        extra_conf={"spark.sql.ui.retainedExecutions": "100000"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def job_budget(spark):
    """Foreground-action audit: run a block under a job group and assert it
    launches at most ``max_jobs`` Spark jobs — the regression guard against
    hidden counts/collects sneaking into examples (the reference's
    one-goroutine-per-node execution discipline, SURVEY §3.3). Budgets are
    ceilings, not exact counts: AQE legitimately fans one action into a
    variable number of jobs, and streaming micro-batches run on threads job
    groups cannot tag."""
    from contextlib import contextmanager

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    @contextmanager
    def budget(name: str, max_jobs: int):
        group = f"budget-{name}"
        sc.setJobGroup(group, name)
        try:
            yield
        finally:
            sc.setJobGroup("budget-idle", "idle")
        n = len(tracker.getJobIdsForGroup(group))
        assert n <= max_jobs, (
            f"{name} launched {n} foreground Spark jobs (budget {max_jobs}) — "
            "did a hidden count/collect sneak in?"
        )

    return budget


@pytest.fixture
def py4j_budget(spark):
    """Driver→JVM call audit: count the py4j commands the calling thread
    sends (``ClientServerConnection.send_command``) during a block and
    assert at most ``max_calls`` — the host-speed-free measure of a
    query's construction cost. py4j's memory-delete commands (``m\\nd\\n…``)
    are left out: Python's cyclic GC sends them in bursts of 40–611
    whenever it frees proxies left by EARLIER requests, which made raw
    counts drift ~4 % between identical constructions. Without them a
    construction's count repeats exactly."""
    import threading
    from contextlib import contextmanager

    from py4j.clientserver import ClientServerConnection

    @contextmanager
    def budget(name: str, max_calls: int):
        me, calls = threading.get_ident(), [0]
        send = ClientServerConnection.send_command

        def counting(conn, command):
            if threading.get_ident() == me and not command.startswith("m\nd\n"):
                calls[0] += 1
            return send(conn, command)

        ClientServerConnection.send_command = counting
        try:
            yield
        finally:
            ClientServerConnection.send_command = send
        assert calls[0] <= max_calls, (
            f"{name} sent {calls[0]} py4j commands (budget {max_calls}) — "
            "construction grew more driver→JVM round trips"
        )

    return budget


@pytest.fixture
def action_audit(spark):
    """EXACT foreground-action audit, the strict complement to
    ``job_budget``: reads the SQL status store's execution counter (one
    execution per collect/count/show/write action, regardless of how many
    jobs AQE fans each into) before and after a block and asserts the
    delta EQUALS the example's declared action count. Declared = its sink
    actions + the documented library contracts (one ``count()`` per
    persisted fan-out in ``Runner.start``, iterative-convergence /
    codebook-fit collects). Any new hidden count/collect shifts the delta
    and fails. Batch-only: streaming micro-batches also register
    executions, on engine threads — streaming examples stay on the
    ``job_budget`` ceiling."""
    from contextlib import contextmanager

    store = spark._jsparkSession.sharedState().statusStore()

    def _flush():
        # the status store is listener-bus-fed (async); drain before reading
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def audit(name: str, actions: int):
        _flush()
        before = store.executionsCount()
        yield
        _flush()
        n = store.executionsCount() - before
        assert n == actions, (
            f"{name} performed {n} SQL executions (declared {actions}) — "
            "an undeclared action appeared (or one was removed: update the "
            "declared count with its breakdown)"
        )

    return audit
