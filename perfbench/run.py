"""Closed-loop benchmark of pipes_spark: one client, one request in flight.

Usage, from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 27 --trace 0

A run generates the sf0.1-shaped inputs from ``--seed``, sets the engine
up three times (``setup_s`` is the median), runs one cold sweep and then
warm sweeps of the workload's requests in a seeded order, checks every
output, and prints one JSON object as its last line. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` traces every other warm sweep and
reports the per-layer metrics instead. Everything the run writes stays
under ``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

T0 = time.perf_counter()

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "latency_geomean_s": "s",
    "ok_frac": "ratio",
    "retained_mb": "MB",
}
PER_LAYER = {
    "cold.pass_s": "s",
    "session.start_s": "s",
    "warehouse.ingest_s": "s",
    "catalog.construct_s": "s",
    "catalyst.plan_s": "s",
    "scheduler.action_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count",
    "scheduler.slot_busy_frac": "ratio",
    "task.run_s": "s",
    "task.cpu_s": "s",
    "task.gc_s": "s",
    "scan.input_mb": "MB",
    "scan.input_rows": "count",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "spill.mb": "MB",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mb": "MB",
    "python.received_mb": "MB",
    "pipeline.build_s": "s",
    "pipeline.start_s": "s",
    "pipeline.done_s": "s",
    "caching.cached_mb": "MB",
    "sinks.wall_s": "s",
    "sinks.overlap": "ratio",
    "sinks.output_mb": "MB",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "trace.overhead_frac": "ratio",
}

WORKLOADS = ("relational", "pipelines")

#: Nominal warm-sweep wall time on a 4-core host (a warm sweep takes about
#: 4 s on ``relational`` and 7.5 s on ``pipelines``). It turns ``--seconds``
#: into a fixed number of warm sweeps, so every run of a workload holds the
#: same samples and the tail percentile means the same thing from run to run.
SWEEP_S = 5.0
SETUPS = 3
#: Most collections before the retained-memory reading; the heap settled
#: within four in every run tried.
GC_ROUNDS = 10


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def warm_sweeps(n_requests: int, seconds: float) -> int:
    """Warm sweeps that fill ``seconds`` at the nominal sweep time, and at
    least enough for more than 2 * TAIL_BEYOND warm samples, so the tail
    percentile (TAIL_BEYOND samples beyond it) lies above the median."""
    from stats import TAIL_BEYOND

    return max(2 * TAIL_BEYOND // n_requests + 1, int(seconds // SWEEP_S))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_steal() -> float:
    """CPU seconds the hypervisor took from this machine so far."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# session set-up and teardown
# ---------------------------------------------------------------------------

def session_conf(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no perf-data file, which the JVM would write outside the run dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def setup(workload: str, ctx_args: dict) -> tuple:
    """Start a session and run the workload's warm-ups and warehouse
    ingest. Returns the session and the time of each part."""
    from pipes_spark.session import get_spark
    from pipes_spark.sources import load_table

    sf_dir, run_dir, n = ctx_args["sf_dir"], ctx_args["run_dir"], ctx_args["cores"]
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(run_dir))
    t1 = time.perf_counter()
    # JVM, codegen and parquet reader warm-up on the workload's main table
    spark.range(1000).selectExpr("sum(id)").collect()
    table, key = ("lineitem", "l_returnflag") if workload == "relational" else ("events", "event_type")
    load_table(spark, sf_dir, table).groupBy(key).count().write.mode("overwrite").format("noop").save()
    # Python-worker boot, the streaming planner and the state store are left
    # for the cold sweep to pay, as a fresh application would
    t2 = time.perf_counter()
    if workload == "pipelines":
        import workloads as wl

        wl.warehouse_tables(spark, sf_dir, n)
    t3 = time.perf_counter()
    return spark, {"session": t1 - t0, "warm": t2 - t1, "warehouse": t3 - t2, "total": t3 - t0}


def stop_session(spark) -> None:
    from pipes_spark import caching

    caching.release_all()
    spark.stop()


def shutdown() -> None:
    """Stop the active session, then the JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        from pyspark.sql import SparkSession

        stop_session(SparkSession.builder.getOrCreate())
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def retained_memory(spark) -> tuple[dict, dict]:
    """Resident memory per process after the JVM heap has been collected
    down to its live size, and the JVM heap.

    One collection is not enough: it lets Spark's ContextCleaner drop the
    broadcast and shuffle blocks of plans no longer referenced, and only a
    later collection frees them, so the heap after a single GC varied from
    1x to 2.5x its live size between runs. Collections repeat until the heap
    stops shrinking. The sweeps run with the JVM's default heap sizing; only
    here are the heap's free-ratio limits lowered (both flags are manageable
    at run time), so the collections also shrink the committed heap to near
    its live size. G1 returns the freed heap to the OS in the background, so
    the reading waits for that."""
    from tracing import tree_rss_mb

    jvm = spark._jvm
    diag = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    diag.setVMOption("MinHeapFreeRatio", "10")
    diag.setVMOption("MaxHeapFreeRatio", "20")
    rt = jvm.java.lang.Runtime.getRuntime()
    used = float("inf")
    for _ in range(GC_ROUNDS):
        gc.collect()  # drop py4j proxies first, so their JVM objects are garbage too
        jvm.System.gc()
        before, used = used, (rt.totalMemory() - rt.freeMemory()) / 2**20
        if before - used < 1.0:
            break
        time.sleep(0.3)  # the ContextCleaner works between collections
    time.sleep(1.0)
    heap = {"committed": rt.totalMemory() / 2**20, "used": (rt.totalMemory() - rt.freeMemory()) / 2**20}
    return tree_rss_mb(), heap


def hygiene(spark) -> None:
    """Between sweeps, outside timed regions: drop cached plans and scoped
    operator caches, then collect garbage in the JVM and here."""
    from pipes_spark import caching

    spark.catalog.clearCache()
    caching.release_all()
    spark._jvm.System.gc()
    gc.collect()


# ---------------------------------------------------------------------------
# the measured loop
# ---------------------------------------------------------------------------

def execute(ctx, workload: str, name: str):
    import workloads as wl

    if workload == "pipelines":
        return wl.run_graph(ctx, wl.GRAPHS[name][0])
    return wl.run_query(ctx, name)


def request_layers(ctx, workload: str, out, span_mark: int) -> dict:
    """Per-layer counters of one traced request."""
    import workloads as wl

    tr = ctx.tracer
    layers = defaultdict(float)
    groups = [ctx.group] + [str(q.runId) for q in ctx.stream_queries]
    layers.update(ctx.reader.counters(groups))
    layers["catalog.construct_s"] = tr.span_total("catalog.construct", span_mark)
    layers["catalyst.plan_s"] = tr.span_total("catalyst.plan", span_mark)
    if workload == "pipelines":
        for part in ("build", "start", "done"):
            layers[f"pipeline.{part}_s"] = tr.span_total(f"pipeline.{part}", span_mark)
        layers["scheduler.action_s"] = layers["pipeline.start_s"] + layers["pipeline.done_s"]
        layers["caching.cached_mb"] = ctx.cached_mb
        layers["sinks.wall_s"] = ctx.sink_wall
        layers["sinks.output_mb"] = wl.dir_mb(out.get("paths", []))
        layers.update(wl.stream_progress(ctx.stream_queries))
    else:
        layers["scheduler.action_s"] = tr.span_total("scheduler.action", span_mark)
    return layers


def sweep_layers(rows: list[dict], n_cores: int) -> dict:
    """Sum one sweep's per-request counters and derive its ratios."""
    total = defaultdict(float)
    for r in rows:
        for k, v in r.items():
            total[k] += v
    action = total["scheduler.action_s"]
    total["scheduler.slot_busy_frac"] = total["task.run_s"] / (action * n_cores) if action else 0.0
    busy = total["pipeline.start_s"] + total["pipeline.done_s"]
    total["sinks.overlap"] = total["sinks.wall_s"] / busy if busy else 0.0
    return total


def measure(ctx, workload: str, names: list[str], n_warm: int, seed: int, trace: bool) -> dict:
    import workloads as wl
    from tracing import StatusReader

    rng = random.Random(seed)
    samples = []  # dicts: sweep, name, latency, output fingerprint
    sweeps = []  # dicts: sweep, wall, traced, layers
    first: dict = {}
    for sweep in range(n_warm + 1):
        order = list(names)
        rng.shuffle(order)
        hygiene(ctx.spark)
        traced = trace and sweep % 2 == 1
        ctx.tracer.enabled = traced
        ctx.reader = StatusReader(ctx.spark) if traced else None
        wall, rows = 0.0, []
        for name in order:
            ctx.set_group(f"s{sweep}:{name}")
            ctx.sink_wall, ctx.cached_mb, ctx.stream_queries = 0.0, 0.0, []
            span_mark = len(ctx.tracer.spans)
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("request", ctx.group) as sid:
                    ctx.tracer.request_span = sid
                    out = execute(ctx, workload, name)
                latency = time.perf_counter() - t0
            except Exception:
                traceback.print_exc(file=sys.stderr)
                samples.append({"sweep": sweep, "name": name, "latency": None, "out": None})
                continue
            wall += latency
            if workload != "pipelines":
                first.setdefault(name, out)
                out = wl.digest(out)
            samples.append({"sweep": sweep, "name": name, "latency": latency, "out": out})
            if traced:
                rows.append(request_layers(ctx, workload, out, span_mark))
        sweeps.append({"sweep": sweep, "wall": wall, "traced": traced,
                       "layers": sweep_layers(rows, ctx.cores) if traced else None})
    ctx.tracer.enabled = False
    return {"samples": samples, "sweeps": sweeps, "first": first}


def check_outputs(ctx, workload: str, result: dict) -> dict[int, bool]:
    """Check every output outside the timed regions. Queries: the first
    result of each request must equal its DuckDB oracle, and every later
    result must equal the first. Graphs: each run's sinks are checked
    against DuckDB SQL or a stated invariant."""
    import workloads as wl

    con = wl.duck(ctx.sf_dir)
    verdict: dict[int, bool] = {}
    if workload == "pipelines":
        for i, s in enumerate(result["samples"]):
            if s["out"] is None:
                continue
            verdict[i] = bool(wl.GRAPHS[s["name"]][1](con, s["out"], ctx.spark))
        return verdict
    return wl.check_queries(con, result["first"], result["samples"])


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(result: dict, ok: dict, setups: list[dict], retained_mb: float) -> tuple[dict, dict]:
    from stats import geomean, tail

    samples = result["samples"]
    warm = [s for s in samples if s["sweep"] > 0 and s["latency"] is not None]
    walls = [s["wall"] for s in result["sweeps"]]
    lat = [s["latency"] for s in warm]
    by_type = defaultdict(list)
    for s in warm:
        by_type[s["name"]].append(s["latency"])
    tail_value, tail_pct, tail_n = tail(lat)
    metrics = {
        "setup_s": statistics.median(s["total"] for s in setups),
        "pass_s": sum(statistics.median(v) for v in by_type.values()),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_value,
        "latency_geomean_s": geomean([statistics.median(v) for v in by_type.values()]),
        "ok_frac": sum(ok.values()) / len(samples),
        "retained_mb": retained_mb,
    }
    detail = {
        "latency_tail_percentile": tail_pct,
        "latency_tail_samples": tail_n,
        "cold_pass_s": walls[0],
        "steal_indicator": max(walls[1:]) / min(walls[1:]),
        "warm_sweep_walls_s": walls[1:],
        "per_type_median_s": {k: statistics.median(v) for k, v in sorted(by_type.items())},
        "cold_latency_s": {s["name"]: s["latency"] for s in samples if s["sweep"] == 0},
    }
    return metrics, detail


def per_layer(result: dict, setups: list[dict]) -> dict:
    traced = [s for s in result["sweeps"] if s["traced"]]
    plain = [s["wall"] for s in result["sweeps"][1:] if not s["traced"]]
    metrics = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        values = [s["layers"].get(name, 0.0) for s in traced]
        if values:
            metrics[name] = statistics.median(values)
    metrics["cold.pass_s"] = result["sweeps"][0]["wall"]
    metrics["session.start_s"] = statistics.median(s["session"] for s in setups)
    metrics["warehouse.ingest_s"] = statistics.median(s["warehouse"] for s in setups)
    if traced and plain:
        metrics["trace.overhead_frac"] = (
            statistics.median(s["wall"] for s in traced) / statistics.median(plain) - 1.0
        )
    return metrics


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def run(args: argparse.Namespace, root: str, work: str, run_dir: str) -> dict:
    sys.path.insert(0, root)
    import pipes_spark  # noqa: F401  — fails outside a checkout of the library
    import pyspark

    import datagen
    import workloads as wl
    from tracing import Tracer

    phases = {"imports": time.perf_counter() - T0}
    n = cores()
    sf_dir = datagen.write_tables(os.path.join(run_dir, "data", f"sf0.1_seed{args.seed}"), args.seed)
    if args.workload == "pipelines":
        wl.write_stream_input(sf_dir)
    names = {"relational": wl.RELATIONAL, "pipelines": wl.PIPELINES}[args.workload]
    ctx_args = {"sf_dir": sf_dir, "run_dir": run_dir, "cores": n}

    phases["inputs"] = time.perf_counter() - T0
    try:
        setups, spark = [], None
        for _ in range(SETUPS):
            if spark is not None:
                stop_session(spark)
            spark, parts = setup(args.workload, ctx_args)
            setups.append(parts)
        phases["setups"] = time.perf_counter() - T0
        steal_before = cpu_steal()
        ctx = wl.Ctx(spark=spark, sf_dir=sf_dir, run_dir=run_dir, cores=n, tracer=Tracer(enabled=False))
        result = measure(ctx, args.workload, names, warm_sweeps(len(names), args.seconds),
                         args.seed, bool(args.trace))
        retained, heap = retained_memory(spark)
        phases["measured"] = time.perf_counter() - T0
        steal = cpu_steal() - steal_before
        hygiene(spark)
        ok = check_outputs(ctx, args.workload, result)
        host = {
            "nproc": n,
            "cores": spark.sparkContext.defaultParallelism,
            "sf_dir": os.path.relpath(sf_dir, root),
            "seed": args.seed,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }
        phases["checked"] = time.perf_counter() - T0
    finally:
        shutdown()
    phases["stopped"] = time.perf_counter() - T0

    e2e, detail = end_to_end(result, ok, setups, sum(retained.values()))
    detail.update(
        host=host,
        phases_s=phases,
        cpu_steal_frac=steal / (n * (phases["measured"] - phases["setups"])),
        retained_mb_by_process=retained,
        jvm_heap_mb=heap,
        setup_runs_s=setups,
        warm_sweeps=len(result["sweeps"]) - 1,
    )
    if args.trace:
        metrics, units = per_layer(result, setups), PER_LAYER
        with open(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": ctx.tracer.spans, "sweeps": result["sweeps"], "detail": detail}, fh)
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps({"detail": detail}))
    return result_line(ok, len(result["samples"]), metrics, units)


def result_line(ok: dict, attempted: int, metrics: dict, units: dict) -> dict:
    """The last line of a run: every metric in ``units``, by name, with its
    unit, and how many requests were attempted and failed."""
    passed = sum(ok.values())
    return {
        "correct": passed == attempted,
        "attempted": attempted,
        "failed": attempted - passed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    try:
        line = run(args, root, work, run_dir)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
