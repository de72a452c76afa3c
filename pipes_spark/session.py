"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench environment (single JVM,
``local[N]``); on a real cluster the same settings are sane starting points —
AQE handles runtime re-planning (partition coalescing, skew joins) at any
scale, and UTC session time keeps timestamp semantics portable (and identical
to the DuckDB correctness oracle).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Mapping, Optional

from pyspark.sql import SparkSession

#: Known on-disk locations of a pure-Python ``google.protobuf`` runtime
#: (BSD-licensed, vendored by tools already present in the image). Spark 4's
#: ``transformWithStateInPandas`` worker imports protobuf; this environment
#: ships no pip wheel for it, so the factory wires up the first runtime it
#: finds, offline.
_PROTOBUF_FALLBACK_PATHS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable, using an on-disk pure-Python
    runtime when no installed package exists. Returns availability.

    Must run BEFORE the SparkContext starts: local-mode Python workers
    inherit the driver process environment, and the worker imports
    ``StateMessage_pb2`` at module-import time — too late for any in-worker
    fix. The version-check override is protobuf's own documented escape
    hatch for a runtime one minor behind the gencode (6.32 vs 6.33 here:
    the generated API surface is the stable builder interface)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    import sys

    for path in _PROTOBUF_FALLBACK_PATHS:
        if os.path.isdir(os.path.join(path, "google", "protobuf")):
            if path not in sys.path:
                sys.path.append(path)
            existing = os.environ.get("PYTHONPATH", "")
            if path not in existing.split(os.pathsep):
                os.environ["PYTHONPATH"] = (
                    f"{existing}{os.pathsep}{path}" if existing else path
                )
            os.environ.setdefault(
                "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
            )
            try:
                import google.protobuf  # noqa: F401

                return True
            except ImportError:
                continue
    return False


#: glibc's cap on malloc arenas for the JVM the factory launches. glibc's
#: default is 8 arenas per core; the local-mode JVM's ~465 threads spread
#: over all of them, and each arena keeps freed native memory resident.
#: On a 4-core host two arenas cut the `relational` benchmark's retained
#: JVM RSS from a median 676 MB to 599 MB over ten runs each, at unchanged
#: speed (four arenas, four runs: 611 MB). Hadoop exports the same cap
#: for its JVMs (HADOOP-7154).
_MALLOC_ARENA_MAX = "2"


def jvm_launch_env(environ: Mapping[str, str]) -> dict:
    """The environment to launch the gateway JVM with: a copy of
    ``environ`` plus ``MALLOC_ARENA_MAX=2``. A ``MALLOC_ARENA_MAX`` the
    caller already set wins. Pure: ``environ`` is not modified. The
    PySpark daemon and its workers inherit the JVM's environment, so they
    get the same cap."""
    env = dict(environ)
    env.setdefault("MALLOC_ARENA_MAX", _MALLOC_ARENA_MAX)
    return env


@contextmanager
def _jvm_launch_environ():
    """Apply :func:`jvm_launch_env` to ``os.environ`` for the block that
    may launch the JVM, and afterwards remove exactly the keys it added —
    the driver's own environment is left as it was (the SparkContext's
    own ``os.environ`` writes during start-up stay). When a JVM is
    already running nothing changes: its environment was fixed at its
    launch."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        yield
        return
    added = {
        k: v for k, v in jvm_launch_env(os.environ).items() if k not in os.environ
    }
    os.environ.update(added)
    try:
        yield
    finally:
        for k in added:
            os.environ.pop(k, None)


_WORKER_PROTOBUF_STATE: dict = {}


def worker_protobuf_ok(spark: SparkSession) -> bool:
    """True iff the protobuf runtime is importable INSIDE a Python worker
    — the contract ``transformWithStateInPandas`` actually needs.

    Driver-side importability is NOT enough: workers inherit the
    PYTHONPATH captured when the JVM launched, so a session created
    BEFORE this package was imported (the correctness-driver's order)
    has workers that cannot see :func:`ensure_protobuf`'s path fix even
    though the driver can. And ``sc.addPyFile`` cannot remediate it: the
    ``transformWithStateInPandas`` pre-init runner
    (``transform_with_state_driver_worker.py``) is a
    ``StreamingPythonRunner`` that syncs NO pyFiles — its ``sys.path``
    comes solely from the PYTHONPATH ``PythonWorkerFactory`` assembles.
    The one channel that reaches it post-JVM-launch is the
    PythonFunction envVars map, which pyspark snapshots from
    ``sc.environment`` at UDF-creation time and the factory merges into
    the worker PYTHONPATH (and process env — carrying protobuf's
    version-check escape hatch too). So: if the JVM env lacks the
    wiring, inject it into ``sc.environment`` (changing the factory's
    env key also retires any stale daemon), then CONFIRM with one
    single-partition RDD probe importing exactly what the TWS worker
    imports. Cached per application."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _WORKER_PROTOBUF_STATE:
        return _WORKER_PROTOBUF_STATE[key]
    if not ensure_protobuf():
        _WORKER_PROTOBUF_STATE[key] = False
        return False

    import google.protobuf as _gp

    fb = next(
        (p for p in _PROTOBUF_FALLBACK_PATHS if (_gp.__file__ or "").startswith(p)),
        None,
    )
    if fb is not None:
        # a real installed wheel needs nothing; the fallback runtime does
        # iff the JVM env missed it (session created before our import)
        jvm_pp = spark._jvm.System.getenv("PYTHONPATH") or ""
        if fb not in jvm_pp.split(os.pathsep):
            env = sc.environment
            existing = env.get("PYTHONPATH", "")
            if fb not in existing.split(os.pathsep):
                env["PYTHONPATH"] = (
                    f"{existing}{os.pathsep}{fb}" if existing else fb
                )
            env.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")

    def _probe_fn(_it):
        try:
            import os as _os
            import sys as _sys

            # daemon workers are REUSED: a failed probe leaves the broken
            # 'google' namespace package cached in sys.modules, which
            # would mask a now-fixed path on the retry — purge first
            for m in [
                k
                for k in _sys.modules
                if k == "google" or k.startswith("google.")
            ]:
                del _sys.modules[m]
            _os.environ.setdefault(
                "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
            )
            # exactly what the TWS worker imports (pb2 also runs the
            # gencode-vs-runtime version validation)
            import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

            yield 1
        except Exception:
            yield 0

    ok = sc.parallelize([0], 1).mapPartitions(_probe_fn).collect()[0] == 1
    _WORKER_PROTOBUF_STATE[key] = ok
    return ok


def get_spark(
    app_name: str = "pipes_spark",
    *,
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """The process's SparkSession (``getOrCreate``), local[N] by default.

    When this call launches the JVM, it launches it with
    :func:`jvm_launch_env` (glibc's ``MALLOC_ARENA_MAX=2`` unless the
    caller set it) and leaves the driver's ``os.environ`` as it was. When
    a JVM is already running, its environment and any static conf stay
    as they are."""
    ensure_protobuf()  # before the JVM starts — workers inherit the env
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # testdata parquet stores timestamp[us] isAdjustedToUTC=false, which
        # Spark 4 would infer as TIMESTAMP_NTZ (rejected by unix_millis /
        # withWatermark); read it as TIMESTAMP under the UTC session zone —
        # value-identical to the DuckDB oracle's naive read. The driver's own
        # session may not carry this conf, so sources.read_parquet ALSO
        # normalizes NTZ columns post-read.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # RocksDB state store: streaming state lives off-heap with
        # incremental checkpoints — the backend that survives 100 TB-scale
        # key cardinality (the default HDFS-backed store holds all state in
        # executor heap).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # RocksDB changelog checkpointing (r12, guide §1/§5): each commit
        # uploads the batch's changelog instead of a full state snapshot
        # (snapshots consolidate in background maintenance) — the
        # documented low-commit-latency mode for RocksDB state stores at
        # any scale. Measured on the benched pair at sf0.1: summed
        # per-partition commitTimeMs 13-15.6 s → 3.5-7.5 s, wall ~-0.3 s
        # per query.
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true"
        )
        .config("spark.driver.memory", "8g")
        # DataFrame call-site capture (Python-side error-context
        # enrichment, default on) costs TWO extra py4j round trips plus a
        # driver-side traceback walk on EVERY DataFrame API call — a
        # measured 0.03-0.13 s of query-construction latency per declared
        # query, pure driver overhead at any deployment size. Exceptions
        # still carry the full JVM context; only the Python call-site
        # line in error messages is lost. Re-enable for debugging with
        # ``extra_conf``.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    with _jvm_launch_environ():
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
